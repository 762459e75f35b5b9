package graft

import java.nio.file.Files

import org.apache.spark.sql.graft.JobCount

/** Pins [[Tables.open]]: it opens a parquet path with the schema Spark's
  * own inference gives, without the Spark job that inference starts.
  */
class TablesOpenSpec extends SparkSpec {

  private val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def sameSchemaAsSpark(path: String): Unit = {
    val opened = Tables.open(spark, path).schema
    val inferred = spark.read.parquet(path).schema
    // StructType equality covers names, types, nullability, metadata and
    // column order
    assert(opened == inferred, s"$path\n open:  ${opened.treeString}\n spark: ${inferred.treeString}")
  }

  test("each testdata table opens with the schema Spark infers") {
    tableNames.foreach(t => sameSchemaAsSpark(s"$sfDir/$t.parquet"))
  }

  test("a flat directory Spark wrote opens with the schema Spark infers") {
    val dir = Files.createTempDirectory("tables-open-flat").toString
    spark.range(0, 40, 1, 4).selectExpr(
      "id", "cast(id as int) as i", "cast(id as decimal(27,6)) as d",
      "timestamp_micros(id * 1000003) as ts", "cast(null as string) as s",
      "array(cast(id as float), 1.5f) as emb", "named_struct('k', id, 'v', 'x') as kv",
      "map('a', id) as m", "cast(cast(id as string) as binary) as b")
      .write.mode("overwrite").parquet(s"$dir/t")
    sameSchemaAsSpark(s"$dir/t")
    assert(Tables.open(spark, s"$dir/t").count() == 40)
  }

  test("a partitionBy root keeps its partition column, type and rows") {
    val dir = Files.createTempDirectory("tables-open-part").toString
    spark.range(0, 60, 1, 3).selectExpr("id", "cast(id % 5 as int) as cell",
      "concat('v', id) as v")
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/p")
    sameSchemaAsSpark(s"$dir/p")
    val opened = Tables.open(spark, s"$dir/p")
    assert(opened.columns.toSeq == Seq("id", "v", "cell"))
    assert(opened.schema("cell").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = opened.collect().map(_.toString).sorted.toSeq
    assert(rows == spark.read.parquet(s"$dir/p").collect().map(_.toString).sorted.toSeq)
    assert(rows.size == 60)
  }

  test("opening the 8 relational tables in a cold session starts no Spark job") {
    val relational: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events)
    SessionArtifacts.invalidateAll(spark)
    val (frames, jobs) = JobCount.of(spark)(relational.map(_(spark, sfDir)))
    assert(frames.size == 8)
    assert(jobs == 0, s"$jobs Spark jobs while opening the relational tables")
    // the counter sees the job Spark's own schema inference starts
    val (_, inferJobs) = JobCount.of(spark)(spark.read.parquet(s"$sfDir/region.parquet"))
    assert(inferJobs == 1)
  }

  test("an empty directory fails loudly") {
    val dir = Files.createTempDirectory("tables-open-empty").toString
    val e = intercept[IllegalArgumentException](Tables.open(spark, dir))
    assert(e.getMessage.contains(dir))
  }
}
