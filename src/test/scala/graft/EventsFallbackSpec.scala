package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** The two [[Tables.events]] branches the current testdata (ts as
  * TIMESTAMP(MICROS, NTZ)) never reaches, each on a hand-written
  * `events.parquet`: TIMESTAMP(NANOS) falls back to the nanos-long read,
  * and an un-annotated INT64 ts fails loudly.
  */
class EventsFallbackSpec extends SparkSpec {

  /** A fresh dir holding `events.parquet` with `ts` declared as `tsType`. */
  private def eventsDir(tsType: String, rows: Seq[(Long, Long)]): String = {
    val dir = Files.createTempDirectory("events-fallback").toString
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts $tsType;
         |  required int64 user_id;
         |  required binary event_type (STRING);
         |  required double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ts)
        .append("user_id", 7L).append("event_type", "click")
        .append("value", 1.5).append("props", "{}"))
    } finally writer.close()
    dir
  }

  test("TIMESTAMP(NANOS) ts reads as microseconds floored from nanoseconds") {
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000000000000999L,
      3L -> 1000L)
    val dir = eventsDir("(TIMESTAMP(NANOS,false))", nanos)
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val micros = df.selectExpr("event_id", "unix_micros(ts)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(micros == Map(1L -> 1700000000123456L, 2L -> 1700000000000000L,
      3L -> 1L))
  }

  test("an un-annotated INT64 ts fails loudly, naming the type") {
    val dir = eventsDir("", Seq(1L -> 1700000000123456L))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unexpected events.ts parquet type LongType"),
      e.getMessage)
  }
}
