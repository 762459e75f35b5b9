package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.BoundedSort

/** B45 — referential-integrity audit: for every declared foreign key in
  * the star schema, count total references, DISTINCT referencing keys,
  * and orphans (references with no parent row) — the data-quality sweep
  * a warehouse runs after every load, and the quantified form of the
  * b06 anti-join primitive (which demonstrates the operator; this is
  * the audit topology built from it).
  *
  * All relationships run as ONE keyed pass, with no join:
  *
  *  - every table is scanned once and emits `(rel, key, ref)` for each
  *    key column it carries: `ref` for a foreign-key reference (lineitem
  *    emits three per line), not `ref` for a parent key (orders and
  *    customer are both fact and parent, and emit both kinds);
  *  - one aggregate by `(rel, key)` counts references and parent rows
  *    per key — the co-group that IS the orphan join. Map-side partials
  *    collapse both sides to one row per distinct key, so at 100 TB the
  *    shuffle moves key cardinality, not fact rows;
  *  - keys with references survive; zero parent rows marks an orphan.
  *    Null parent keys are dropped first, so a null reference never
  *    finds a parent and counts as one orphan key, as in the SQL join;
  *  - one aggregate by `rel`, whose 5 rows sort in a single task
  *    (`BoundedSort`).
  *
  * A relationship whose fact table has no rows at all reports no row.
  *
  * Parity: pure i64 counts; per-relationship rows ordered by name.
  */
object Integrity {

  /** A declared foreign key: `fact.fk` references `parent.pk`. */
  private final case class ForeignKey(fact: String, fk: String,
      parent: String, pk: String) {
    def relationship: String = s"$fact.$fk->$parent"
  }

  private val foreignKeys = Seq(
    ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ForeignKey("lineitem", "l_partkey", "part", "p_partkey"),
    ForeignKey("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
    ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"))

  def integrityAudit(spark: SparkSession, dir: String): DataFrame =
    integrityAuditOf(Tables.load(spark, dir, _))

  /** Core of B45 over any table resolver (test seam for fixtures). */
  private[graft] def integrityAuditOf(table: String => DataFrame): DataFrame = {
    val keyColumns = foreignKeys.zipWithIndex.flatMap { case (fk, rel) =>
      Seq((fk.fact, fk.fk, rel, true), (fk.parent, fk.pk, rel, false))
    }
    val keys = keyColumns.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, cols) =>
        table(name).select(inline(array(cols.map { case (_, c, rel, ref) =>
          struct(lit(rel).as("rel"), col(c).cast("bigint").as("k"), lit(ref).as("ref"))
        }: _*)))
      }
      .reduce(_ unionByName _)
      .where(col("ref") || col("k").isNotNull)
    val orphan = col("n_parents") === 0L
    val audit = keys
      .groupBy(col("rel"), col("k"))
      .agg(count(when(col("ref"), 1)).as("n_refs"),
        count(when(!col("ref"), 1)).as("n_parents"))
      .where(col("n_refs") > 0L)
      .groupBy(col("rel"))
      .agg(
        sum(col("n_refs")).as("n_references"),
        count(lit(1)).as("n_distinct_keys"),
        sum(when(orphan, col("n_refs")).otherwise(0L)).as("n_orphan_refs"),
        sum(when(orphan, 1L).otherwise(0L)).as("n_orphan_keys"))
      .select(
        element_at(typedLit(foreignKeys.map(_.relationship)), col("rel") + 1)
          .as("relationship"),
        col("n_references"), col("n_distinct_keys"), col("n_orphan_refs"),
        col("n_orphan_keys"))
    BoundedSort.orderBy(audit)(col("relationship"))
  }

  val integrityAuditSql: String = {
    def one(fk: ForeignKey): String =
      s"""SELECT '${fk.relationship}' AS relationship,
         |       CAST(sum(n_refs) AS BIGINT) AS n_references,
         |       count(*) AS n_distinct_keys,
         |       CAST(sum(CASE WHEN pk IS NULL THEN n_refs ELSE 0 END)
         |         AS BIGINT) AS n_orphan_refs,
         |       CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_orphan_keys
         |FROM (SELECT ${fk.fk} AS k, count(*) AS n_refs FROM ${fk.fact} GROUP BY 1) r
         |LEFT JOIN (SELECT DISTINCT ${fk.pk} AS pk FROM ${fk.parent}) p
         |  ON r.k = p.pk""".stripMargin
    foreignKeys.map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b45_integrity_audit" -> integrityAudit _)

  val oracles: Map[String, String] = Map(
    "b45_integrity_audit" -> integrityAuditSql)
}
