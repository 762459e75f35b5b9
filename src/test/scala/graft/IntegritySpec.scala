package graft

import graft.ops.Integrity

/** B45 — integrity audit: counts must equal driver-side set arithmetic
  * per relationship, and the orphan joins must move key cardinality
  * (aggregate-before-join), not fact rows.
  */
class IntegritySpec extends SparkSpec {

  private type Counts = (Long, Long, Long, Long)

  private val relationships = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))

  /** (references, distinct keys, orphan references, orphan keys) by set
    * arithmetic; a null key (None) never has a parent. */
  private def expected(refs: Seq[Option[Long]], parents: Seq[Option[Long]]): Counts = {
    val parentSet = parents.flatten.toSet
    val orphan = (k: Option[Long]) => !k.exists(parentSet)
    val distinctRefs = refs.distinct
    (refs.length.toLong, distinctRefs.length.toLong,
      refs.count(orphan).toLong, distinctRefs.count(orphan).toLong)
  }

  private def audited(df: org.apache.spark.sql.DataFrame): Map[String, Counts] =
    df.collect()
      .map(r => r.getAs[String]("relationship") ->
        ((r.getAs[Long]("n_references"), r.getAs[Long]("n_distinct_keys"),
          r.getAs[Long]("n_orphan_refs"), r.getAs[Long]("n_orphan_keys"))))
      .toMap

  private def keys(table: org.apache.spark.sql.DataFrame, col: String): Seq[Option[Long]] =
    table.selectExpr(s"CAST($col AS BIGINT) AS k").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq

  private def checkAgainstSetArithmetic(table: String => org.apache.spark.sql.DataFrame) = {
    val got = audited(Integrity.integrityAuditOf(table))
    assert(got.size == relationships.size)
    relationships.foreach { case (name, fact, fk, parent, pk) =>
      assert(got(name) == expected(keys(table(fact), fk), keys(table(parent), pk)), name)
    }
  }

  test("B45: per-relationship counts equal driver-side set arithmetic") {
    checkAgainstSetArithmetic(Tables.load(spark, sfDir, _))
    val rows = Integrity.integrityAudit(spark, sfDir).collect()
      .map(_.getAs[String]("relationship")).toSeq
    assert(rows == relationships.map(_._1).sorted)
  }

  test("B45: a null key and a missing parent count as orphans, as in set arithmetic") {
    import spark.implicits._
    val fixture = Map(
      "lineitem" -> Seq[(Option[Long], Option[Long], Option[Long])](
        (Some(1L), Some(10L), Some(100L)), (Some(1L), Some(11L), Some(100L)),
        (None, Some(10L), Some(101L)), (Some(3L), Some(99L), Some(100L)),
        (Some(3L), Some(10L), None), (None, Some(99L), None))
        .toDF("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(5L)), (Some(2L), None), (Some(4L), Some(6L)), (None, Some(5L)))
        .toDF("o_orderkey", "o_custkey"),
      "part" -> Seq(10L, 11L).toDF("p_partkey"),
      "supplier" -> Seq[Option[Long]](Some(100L), None).toDF("s_suppkey"),
      "customer" -> Seq[(Option[Long], Option[Long])]((Some(5L), Some(0L)), (Some(7L), Some(9L)))
        .toDF("c_custkey", "c_nationkey"),
      "nation" -> Seq(0L, 1L).toDF("n_nationkey"))
    checkAgainstSetArithmetic(fixture)
    // spot values: order 3 has no parent; the null order key is one orphan key
    assert(audited(Integrity.integrityAuditOf(fixture))("lineitem.l_orderkey->orders") ==
      ((6L, 3L, 4L, 2L)))
  }

  test("B45: each table is scanned once — lineitem once for its three foreign keys") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Integrity.integrityAudit(spark, sfDir)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    def closure(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }).flatMap(closure)
    val scanned = closure(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten
    val tables = relationships.flatMap(r => Seq(r._2, r._4)).distinct
    assert(scanned.sorted == tables.map(t => s"$t.parquet").sorted,
      df.queryExecution.executedPlan.toString)
  }

  test("B45: aggregate-before-join — the orphan join sees distinct keys") {
    val df = Integrity.integrityAudit(spark, sfDir)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the orphan join is the (rel, key) co-group: references and parent
    // keys meet only after map-side partials have collapsed them to
    // distinct keys, never as raw fact rows
    assert(plan.contains("partial_count"),
      s"reference counts need map-side partials:\n$plan")
  }
}
