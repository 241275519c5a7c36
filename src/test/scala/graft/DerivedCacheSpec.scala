package graft

import graft.sources.DerivedCache
import java.nio.file.{Files, Paths}

/** The content-keyed cache layer under the memoized cluster assignment
  * and the persisted ANN indexes: identical sources share a key,
  * any change to content (mtime/size) or parameters misses.
  */
class DerivedCacheSpec extends SparkSpec {

  test("key is stable for an unchanged source and splits on content or params") {
    val f = Files.createTempFile("graft_dc", ".parquet")
    Files.write(f, "abc".getBytes)
    val d1 = DerivedCache.dirFor(spark, f.toString, "k", "p=1")
    assert(d1 == DerivedCache.dirFor(spark, f.toString, "k", "p=1"))
    // parameter change → different key
    assert(d1 != DerivedCache.dirFor(spark, f.toString, "k", "p=2"))
    // kind change → different key
    assert(d1 != DerivedCache.dirFor(spark, f.toString, "k2", "p=1"))
    // content change (size) → different key: a stale artifact can
    // never answer for new data
    Files.write(f, "abcdef".getBytes)
    assert(d1 != DerivedCache.dirFor(spark, f.toString, "k", "p=1"))
  }

  test("vacuum evicts the stranded old key and keeps the current one") {
    val f = Files.createTempFile("graft_dc3", ".parquet")
    Files.write(f, "v1".getBytes)
    val oldDir = DerivedCache.dirFor(spark, f.toString, "vac", "p=1")
    Files.createDirectories(Paths.get(oldDir))
    Files.write(Paths.get(oldDir, "_SUCCESS"), Array.emptyByteArray)
    // the source is rewritten → new content key; the old artifact is
    // now unreachable by any dirFor call and would strand forever
    Files.write(f, "v2-longer".getBytes)
    val curDir = DerivedCache.dirFor(spark, f.toString, "vac", "p=1")
    assert(curDir != oldDir)
    Files.createDirectories(Paths.get(curDir))
    Files.write(Paths.get(curDir, "_SUCCESS"), Array.emptyByteArray)
    // keep-set = every live dir except the stranded key (the shape a
    // real caller produces by re-deriving dirFor for each live tuple;
    // here it also leaves other suites' memoized artifacts alone)
    import scala.jdk.CollectionConverters._
    def liveDirs: Set[String] = {
      val root = Paths.get(sys.props("java.io.tmpdir"), "graft_cache")
      Files.list(root).iterator().asScala.map(_.toString).toSet
    }
    val deleted = DerivedCache.vacuum(spark, liveDirs - oldDir)
    assert(deleted.exists(_.endsWith(Paths.get(oldDir).getFileName.toString)))
    assert(!Files.exists(Paths.get(oldDir)))
    assert(DerivedCache.isComplete(spark, curDir))
    // idempotent: a second sweep with the same keep-set deletes nothing
    // it shouldn't — the current dir survives again
    DerivedCache.vacuum(spark, liveDirs)
    assert(DerivedCache.isComplete(spark, curDir))
  }

  test("vacuumKinds evicts only the named kinds, every key, no prefix bleed") {
    val f = Files.createTempFile("graft_dc4", ".parquet")
    Files.write(f, "v1".getBytes)
    // two keys of the target kind (a stale one forged via params), one
    // of a longer kind sharing the prefix, one unrelated kind
    val k1 = DerivedCache.dirFor(spark, f.toString, "vk", "p=1")
    val k2 = DerivedCache.dirFor(spark, f.toString, "vk", "p=2")
    val longer = DerivedCache.dirFor(spark, f.toString, "vk-extra", "p=1")
    val other = DerivedCache.dirFor(spark, f.toString, "vkother", "p=1")
    Seq(k1, k2, longer, other).foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "_SUCCESS"), Array.emptyByteArray)
    }
    val deleted = DerivedCache.vacuumKinds(spark, Set("vk"))
    // both vk keys go (cold-run semantics: the kind's EVERY key is
    // evicted), the prefix-sharing longer kind and the unrelated kind
    // survive — the scoped behavior MultimodalSpec's and
    // SimilaritySpec's cold rebuilds rely on
    assert(!Files.exists(Paths.get(k1)) && !Files.exists(Paths.get(k2)))
    assert(DerivedCache.isComplete(spark, longer))
    assert(DerivedCache.isComplete(spark, other))
    assert(deleted.size == 2)
    DerivedCache.vacuumKinds(spark, Set("vk-extra", "vkother"))
    assert(!Files.exists(Paths.get(longer)) && !Files.exists(Paths.get(other)))
  }

  test("isComplete is the _SUCCESS witness — absent for partial builds") {
    val dir = Files.createTempDirectory("graft_dc2").toString
    assert(!DerivedCache.isComplete(spark, dir))
    // a crashed build leaves files but no marker → still incomplete
    Files.write(Paths.get(dir, "part-0000.parquet"), Array[Byte](1))
    assert(!DerivedCache.isComplete(spark, dir))
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    assert(DerivedCache.isComplete(spark, dir))
  }
}
