package graft

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrameWriter
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The session's file-output committer: a plain parquet write keeps
  * Hadoop's all-or-nothing v1 job commit, and the v2 committer that
  * the graft sink's staging write asks for reaches only the write that
  * sets it.
  */
class CommitterScopeSpec extends SparkSpec {
  import spark.implicits._

  /** Run a two-task write into a fresh dir whose second task throws
    * once the first task has committed; returns the part files left
    * anywhere under the output dir. */
  private def partsLeftByFailedWrite(
      write: (DataFrameWriter[_], String) => Unit): Seq[Path] = {
    val out = Files.createTempDirectory("graft_committer").resolve("out")
    val group = s"committer-scope-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    CommitterScopeSpec.firstCommitted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason == Success)
          CommitterScopeSpec.firstCommitted.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val rows = spark.range(0, 2, 1, 2).as[Long].map { i =>
        if (i == 1L) {
          CommitterScopeSpec.firstCommitted.await(60, TimeUnit.SECONDS)
          throw new IllegalStateException("task 1 fails after task 0 committed")
        }
        i
      }
      intercept[Exception](write(rows.toDF("v").write, out.toString))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(CommitterScopeSpec.firstCommitted.getCount == 0,
      "task 0 never committed before task 1 failed")
    if (!Files.exists(out)) Nil
    else {
      val walk = Files.walk(out)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toList
      } finally walk.close()
    }
  }

  test("a plain parquet write whose job fails after one task committed " +
      "leaves no part file in its output dir") {
    val left = partsLeftByFailedWrite((w, dir) => w.parquet(dir))
    assert(left.isEmpty, s"committed task output survived the failed job: $left")
  }

  test("the v2 committer option on one write reaches its committer: the " +
      "committed task's file stays after the job fails") {
    val left = partsLeftByFailedWrite((w, dir) =>
      w.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .parquet(dir))
    assert(left.size == 1, s"expected task 0's file only: $left")
  }
}

object CommitterScopeSpec {
  /** Released when the write's first task commits; the failing task
    * waits on it (local mode: tasks share the driver's JVM). */
  @volatile var firstCommitted = new CountDownLatch(0)
}
