package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.Weather
import graft.stream.Pipeline

/** Streaming throughput benchmark for the reference's actual workload:
  * wire envelopes → parse/flatten → watermark + 5-min window aggregate,
  * drained end-to-end with Trigger.AvailableNow into the noop sink, in
  * the state layout `Pipeline.start` uses.
  *
  * The reference's ingest ceiling is 1 msg/s *by design* (synchronous
  * send+flush per record, `weather-producer.py:17,225,235`; BASELINE.md)
  * — this measures what the same pipeline sustains on this engine on one
  * node. Envelope generation is excluded from the timed section (it is
  * the producer's job); the measurement covers JSON decode, flatten,
  * watermarking, windowed aggregation, and state store maintenance.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = Files.createTempDirectory("graft-streambench-")
    val wireDir = s"$work/wire"
    val checkpoint = s"$work/ckpt"
    Weather.generateWire(spark, n)
      .repartition(cpus.toInt)
      .write.mode("overwrite").parquet(wireDir) // setup — not timed

    val wire = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .parquet(wireDir)
    val t0 = System.nanoTime()
    val query = Pipeline.startSingleState(Pipeline.windowedAgg(Pipeline.flattened(wire))) {
      _.outputMode("update")
        .format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
    }
    query.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"stream_msgs_per_sec","value":${n / sec}%.0f,"unit":"msgs/sec","messages":$n,"seconds":$sec%.2f}""")
    spark.stop()
  }
}
