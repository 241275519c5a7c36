package graft.pipelines

import graft.functions.Functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The projectsync pipeline distilled (SURVEY.md §3.2, §7.3) — the
  * backbone every reference notebook shares, as one lazy plan:
  *
  *   read → broadcast-join person dim → membership flag → short-name
  *   derivation → ordered when-chain classifications → dtype-driven
  *   null fill → boolean-flag split → sinks
  *
  * All derivations are independent column adds, so Catalyst fuses the
  * whole chain into a single narrow projection stage over the join —
  * no shuffle until the sink. Classification branch maps are data
  * (ordered Seq), mirroring create_projectsync_dataset.ipynb cells
  * 9/12/13 where np.select order is first-match-wins.
  */
object ProjectSync {

  /** Ordered (pattern → label) classification; patterns are
    * case-insensitive regex fragments tested with containsCi.
    */
  final case class Classifier(field: String,
      branches: Seq[(String, String)], default: String)

  def classify(c: Column, cls: Classifier): Column =
    whenChain(
      cls.branches.map { case (pat, label) => containsCi(c, pat) -> lit(label) },
      lit(cls.default))

  final case class Config(
      userCol: String,
      bimUsers: Seq[String],
      objectClassifier: Classifier,
      detachedPattern: String = "отсоединено")

  /** The full transform: facts ⟕ users, flags, classifications,
    * canonical null fill. Pure DataFrame → DataFrame.
    */
  def transform(sync: DataFrame, adUsers: DataFrame, cfg: Config): DataFrame = {
    val joined = sync.join(broadcast(adUsers),
      sync(cfg.userCol) === adUsers("display_name"), "left")
    val derived = joined
      .withColumn("is_bim", col(cfg.userCol).isin(cfg.bimUsers: _*))
      .withColumn("short_project_name", shortName(col("project_name")))
      .withColumn("object_name",
        classify(col("project_name"), cfg.objectClassifier))
      .withColumn("is_detached",
        containsCi(col("project_name"), cfg.detachedPattern).cast("int"))
      .withColumn("file_storage_name",
        fileStorageName(col("project_name"), col(cfg.userCol)))
    fillByType(derived)
  }

  /** P9: the bim/designers split — two filters over the same lazy
    * plan (the reference writes each to its own table). The split
    * caches nothing: each sink runs the plan over its own scan.
    */
  def split(transformed: DataFrame): (DataFrame, DataFrame) = (
    transformed.filter(col("is_bim") && col("is_detached") === 0),
    transformed.filter(!col("is_bim") && col("is_detached") === 0))
}
