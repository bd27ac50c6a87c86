package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Declarative per-entity quality staging: union multi-source inputs,
  * conciliate column names, normalize types, mint a surrogate key, flag
  * (never drop) bad rows, dedup.
  *
  * Re-expresses the reference's `quality_checks*` staging blocks
  * (/root/reference/src/pipelines/transforms/silver.sql:90-139 patients,
  * :238-271, :387-429, :518-566, :668-688) as one interpreter over an
  * [[EntitySpec]]. Quarantine semantics follow silver.sql:105-108 —
  * rows are flagged `is_quarantined`, filtering happens only downstream
  * (gold.sql:23,82,161).
  *
  * Scale notes: everything before the final `distinct()` is narrow
  * (projection + union); the dedup is the only shuffle, a hash
  * aggregate over all columns, identical in shape to the reference's
  * `SELECT DISTINCT`.
  */
object QualityStage {

  /** One upstream source feeding an entity.
    *
    * @param df      raw (typically stringly-typed) input
    * @param tag     datasource tag, e.g. "hosa" (silver.sql:27-29)
    * @param renames source-specific column conciliation,
    *                e.g. "ID" -> "SRC_PatientID" (silver.sql:126-138)
    */
  final case class Source(df: DataFrame, tag: String, renames: Map[String, String] = Map.empty)

  /** @param sources        multi-source inputs to union (by name)
    * @param casts          silver type normalization; applied with
    *                       `try_cast` semantics (SAFE_CAST, silver.sql:250)
    * @param naturalKey     column whose null/sentinel state quarantines
    * @param criticalCols   extra columns checked for NULL / "null" text
    * @param surrogateKeyCol name of the minted key column
    * @param keep           post-conciliation projection: columns to
    *                       retain (empty = all) — the per-branch SELECT
    *                       lists of silver.sql:110-121
    * @param quarantineRule custom quarantine predicate overriding the
    *                       default key+critical rule (the reference's
    *                       per-entity CASE blocks differ: departments
    *                       check plain NULLs only, silver.sql:22-25;
    *                       encounters add a sentinel on EncounterType,
    *                       silver.sql:399-402)
    * @param mintKey        false = no surrogate key (providers keep the
    *                       raw ProviderID, silver.sql:35-44)
    */
  final case class EntitySpec(
      sources: Seq[Source],
      casts: Map[String, DataType] = Map.empty,
      naturalKey: String,
      criticalCols: Seq[String] = Seq.empty,
      surrogateKeyCol: String = "entity_key",
      keep: Seq[String] = Seq.empty,
      quarantineRule: Option[Column] = None,
      mintKey: Boolean = true)

  val DatasourceCol = "datasource"
  val QuarantinedCol = "is_quarantined"

  /** The `LOWER(c) = 'null'` text sentinel (silver.sql:105-108),
    * without `lower`: only ASCII N, U and L lower-case to n, u and l,
    * so folding just those three gives the same answer for every
    * string and NULL, and it never loads the ICU case-mapping tables
    * that `lower` pulls in on first use (about 1.5 s of CPU per JVM). */
  def nullText(c: Column): Column = translate(c, "NUL", "nul") === "null"

  /** `LOWER(c) = 'null'` sentinel + real NULL — silver.sql:105-108. */
  def badValue(c: Column): Column = c.isNull || nullText(c.cast("string"))

  def apply(spec: EntitySpec): DataFrame = {
    val conciliated = spec.sources.map { src =>
      val renamed = src.renames.foldLeft(src.df) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to)
      }
      renamed.withColumn(DatasourceCol, lit(src.tag))
    }
    val unioned = conciliated.reduce(_.unionByName(_, allowMissingColumns = true))

    val projected =
      if (spec.keep.isEmpty) unioned
      else unioned.select((spec.keep :+ DatasourceCol).map(col): _*)

    val keyed =
      if (!spec.mintKey) projected
      else projected.withColumn(
        spec.surrogateKeyCol,
        concat(col(spec.naturalKey).cast("string"), lit("-"), col(DatasourceCol)))

    // Quarantine evaluates PRE-cast values: BigQuery same-level SELECT
    // aliases are not visible to sibling expressions, so the
    // reference's CASE sees the raw (stringly-typed) columns
    // (silver.sql:105-108) — the rule must run before type
    // normalization here too.
    val quarantine = spec.quarantineRule.getOrElse(
      (spec.naturalKey +: spec.criticalCols).map(c => badValue(col(c))).reduce(_ || _))
    val flagged = keyed
      .withColumn(QuarantinedCol, when(quarantine, lit(true)).otherwise(lit(false)))

    val typed = spec.casts.foldLeft(flagged) { case (d, (c, t)) =>
      d.withColumn(c, d(c).try_cast(t))
    }

    typed.distinct()
  }
}
