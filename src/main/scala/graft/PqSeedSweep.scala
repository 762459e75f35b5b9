package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Hashing.{cosQ, dotQ}

/** x173 seed shootout (round 15): how much recall and quantization
  * quality do the DETERMINISTIC per-subspace seeds (modular — the
  * registered x173 form; value-spread; Walsh-LSH; farthest-first) give
  * up against MLlib k-means|| codebooks (x31) after the same T = 5
  * integer-exact Lloyd rounds? Wide band: 30 queries × top-5 (150
  * neighbors) so one neighbor is 0.007 of recall, not 0.067; plus the
  * total quantization SSE per codebook — the init-quality number that
  * is NOT sampling noise. Results committed in ANN_SWEEP.md §x173.
  *
  * Usage: sbt "runMain graft.PqSeedSweep [sfDir]"
  */
object PqSeedSweep {
  val M = 8; val Sub = 8; val K = 16; val NQ = 30
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", dotQ($"embedding", $"embedding").as("nq"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"c".desc, $"vec_id".asc)
    val brute = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("c"))
      .withColumn("rnk", row_number().over(byQ)).filter($"rnk" <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // ADC + rerank over a given encoded/codebook pair, wide band
    def probeWide(enc: DataFrame, luts: DataFrame, ck: Int): Set[(Long, Long)] = {
      val byAdc = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
      val adcEx = (0 until M).map(j => element_at(col("lut"),
        (col("codes")(j) + lit(j.toLong * K)).cast("int"))).reduce(_ + _)
      val cands = enc.crossJoin(broadcast(luts))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("approx_d2", adcEx)
        .withColumn("arn", row_number().over(byAdc)).filter($"arn" <= ck)
        .select($"query_id", $"vec_id",
          cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
      ops.Vector.rerankTop5(cands).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    }
    val sliceExpr = s"transform(sequence(0, ${M-1}), j -> " +
      s"transform(slice(embedding, j * $Sub + 1, $Sub), " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
    def lutsOf(enc: DataFrame, cb: DataFrame): DataFrame =
      enc.filter($"vec_id" < NQ)
        .select($"vec_id".as("query_id"), $"embedding".as("qe"),
          $"nq".as("qnq"), expr(sliceExpr).as("qsl"))
        .crossJoin(broadcast(cb))
        .withColumn("d2", expr("aggregate(zip_with(element_at(qsl, CAST(sub + 1 AS INT)), qc, (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t)"))
        .groupBy($"query_id", $"qe", $"qnq")
        .agg(map_from_entries(collect_list(
          struct(($"sub" * K + $"c_code").cast("int").as("k"), $"d2".as("v")))).as("lut"))

    // seed variants, trained by the same integer-exact rounds
    val sl = Tables.embeddings(spark, sfDir)
      .select($"vec_id", posexplode(expr(sliceExpr)).as(Seq("sub", "qs")))
      .select($"vec_id", $"sub".cast("long").as("sub"), $"qs",
        expr("aggregate(qs, 0L, (acc, t) -> acc + t)").as("qsum"))
    val bounds = sl.groupBy($"sub")
      .agg(min($"qsum").as("mn"), max($"qsum").as("mx"))
    val vspreadSeed = sl.join(broadcast(bounds), Seq("sub"))
      .select($"vec_id", $"sub",
        expr(s"(qsum - mn) * $K div (mx - mn + 1)").as("code"), $"qs")
    val masks = Seq(1, 2, 4, 7)
    val bitExprs = masks.zipWithIndex.map { case (m, i) =>
      val dot = (0 until 8).map { d =>
        val sign = if (Integer.bitCount(m & d) % 2 == 0) 1L else -1L
        s"element_at(qs, ${d + 1}) * ${sign}L"
      }.mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << i}L ELSE 0L END)"
    }.mkString(" + ")
    val walshSeed = sl.select($"vec_id", $"sub", expr(bitExprs).as("code"), $"qs")
    def trainFrom(seed: DataFrame): ops.LloydPq.PqLloydIndex = {
      var asg = seed
      var cb: DataFrame = null
      for (_ <- 1 to 5) {
        cb = ops.LloydPq.codebooksOf(asg).localCheckpoint()
        asg = ops.LloydPq.assignTo(asg, cb).localCheckpoint()
      }
      val codes = asg.groupBy($"vec_id")
        .agg(array_sort(collect_list(struct($"sub", $"code"))).as("sc"))
        .select($"vec_id", expr("transform(sc, x -> x.code)").as("codes"))
      ops.LloydPq.PqLloydIndex(e.join(codes, Seq("vec_id")).localCheckpoint(), cb)
    }
    val vIdx = trainFrom(vspreadSeed)
    val wIdx = trainFrom(walshSeed)
    // farthest-first (k-center) seeding: seed 0 = max (qsum, vec_id);
    // step k = the point maximizing min distance to the chosen set
    var chosen = sl.groupBy($"sub")
      .agg(max(struct($"qsum", $"vec_id", $"qs")).as("m"))
      .select($"sub", $"m.vec_id".as("cv"), $"m.qs".as("cqs"),
        lit(0L).as("scode"))
      .localCheckpoint()
    for (k <- 1 until K) {
      val next = sl.join(broadcast(chosen.select($"sub", $"cqs")), Seq("sub"))
        .withColumn("d", expr("aggregate(zip_with(qs, cqs, (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t)"))
        .groupBy($"sub", $"vec_id", $"qs").agg(min($"d").as("dmin"))
        .groupBy($"sub")
        .agg(max(struct($"dmin", $"vec_id", $"qs")).as("b"))
        .select($"sub", $"b.vec_id".as("cv"), $"b.qs".as("cqs"),
          lit(k.toLong).as("scode"))
      chosen = chosen.unionByName(next).localCheckpoint()
    }
    val ffSeed = sl.join(broadcast(chosen.select($"sub", $"scode", $"cqs")), Seq("sub"))
      .withColumn("d", expr("aggregate(zip_with(qs, cqs, (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t)"))
      .groupBy($"vec_id", $"sub", $"qs")
      .agg(min(struct($"d", $"scode")).as("best"))
      .select($"vec_id", $"sub", $"best.scode".as("code"), $"qs")
    val fIdx = trainFrom(ffSeed)
    // x173 modular-seed index (registered)
    val lpq = ops.LloydPq.pqLloydIndex(spark, sfDir)
    // x31 MLlib index: encode its codes+codebooks into the same i64 grid
    val mpq = ops.Vector.pqIndex(spark, sfDir)
    val mEnc = mpq.encoded.select($"vec_id", $"embedding", $"nq",
      array((0 until M).map(j => col(s"code_$j").cast("long")): _*).as("codes"))
    val mCb = mpq.codebooks.select($"sub".cast("long").as("sub"),
      $"code".cast("long").as("c_code"),
      expr("transform(centroid, x -> CAST(floor(x * 1000000.0) AS BIGINT))").as("qc"))
    def sseOf(name: String, enc: DataFrame, cb: DataFrame): Unit = {
      val qsl = enc.select($"vec_id", $"codes",
        posexplode(expr(sliceExpr)).as(Seq("sub", "qs")))
        .select($"vec_id", $"sub".cast("long").as("sub"), $"qs",
          element_at($"codes", ($"sub" + 1).cast("int")).as("code"))
      val sse = qsl.join(broadcast(cb),
          qsl("sub") === cb("sub") && qsl("code") === cb("c_code"))
        .withColumn("d", expr("aggregate(zip_with(qs, qc, (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t)"))
        .agg(sum($"d")).collect()(0).getLong(0)
      println(s"SSE $name = $sse")
    }
    sseOf("mod", lpq.encoded, lpq.codebooks)
    sseOf("vspread", vIdx.encoded, vIdx.codebooks)
    sseOf("ff", fIdx.encoded, fIdx.codebooks)
    sseOf("x31", mEnc, mCb)
    for (ck <- Seq(12, 24, 48, 96)) {
      def r(s: Set[(Long, Long)]) = (s & brute).size.toDouble / brute.size
      val gl = probeWide(lpq.encoded, lutsOf(lpq.encoded, lpq.codebooks), ck)
      val gv = probeWide(vIdx.encoded, lutsOf(vIdx.encoded, vIdx.codebooks), ck)
      val gw = probeWide(wIdx.encoded, lutsOf(wIdx.encoded, wIdx.codebooks), ck)
      val gf = probeWide(fIdx.encoded, lutsOf(fIdx.encoded, fIdx.codebooks), ck)
      val gm = probeWide(mEnc, lutsOf(mEnc, mCb), ck)
      println(f"WIDE candK=$ck mod=${r(gl)}%.3f vspread=${r(gv)}%.3f walsh=${r(gw)}%.3f ff=${r(gf)}%.3f x31=${r(gm)}%.3f")
    }
    spark.stop()
  }
}
