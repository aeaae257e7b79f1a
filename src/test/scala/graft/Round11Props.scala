package graft

import org.scalacheck.{Prop, Properties, Test}

/** Round-11 property (verdict stretch #8): the two sketch FAMILIES —
  * KMV theta (`uniqTheta`, k-minimum-values) and HLL
  * (`uniqHLL12`, MD5-48 register replay) — estimated on the SAME
  * streamed micro-batch splits as q257 (multi-file parquet source,
  * AvailableNow trigger, complete-mode agg: partial states merge on
  * the streaming state-store path), judged against the batch
  * `uniqExact` per group, across the theta partial↔saturated
  * boundary:
  *
  *  - n = k/2 (partial: theta must be EXACT — θ still 2^48),
  *  - n = k   (boundary: the k-th minimum first becomes a real θ),
  *  - n = 8k and n = 64k (saturated: KMV envelope 6·n/√(k−2) + 2),
  *
  * with HLL held to its m=4096 register bound (RSE ≈ 1.04/√4096 ≈
  * 1.6%; asserted at ≤ max(5%·n, 10) — q257's bracket) at EVERY
  * point. All four regimes ride ONE stream (one group per regime), so
  * the property also pins that per-group sketch states merge
  * independently across shared micro-batches. Deterministic MD5-48
  * hashing makes each point a fixed number — checked, not sampled.
  */
object Round11Props extends Properties("round11") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1)

  private val K = 64

  property("theta (KMV) and HLL agree with uniqExact within their " +
      "envelopes on the same streamed micro-batch splits across the " +
      "partial/boundary/saturated regimes") = Prop {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val regimes = Seq("partial" -> K / 2, "boundary" -> K,
      "saturated8k" -> 8 * K, "saturated64k" -> 64 * K)
    // every value appears twice (distinct-ness is what's estimated)
    val rows = regimes.flatMap { case (g, n) =>
      (0 until n).flatMap(i => Seq((g, s"${g}_v$i"), (g, s"${g}_v$i")))
    }
    val base = SparkSpec.tempDir("r11_sketch_src")
    val src = rows.toDF("g", "v")
    src.repartition(5).write.mode("overwrite").parquet(base)

    val q = spark.readStream.schema(src.schema).parquet(base)
      .groupBy(col("g"))
      .agg(expr(s"uniqTheta($K, v)").as("theta"),
        expr("uniqHLL12(v)").as("hll"))
      .writeStream.format("memory").queryName("graft_r11_sketch")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("graft_r11_sketch").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val failures = regimes.flatMap { case (g, n) =>
      val (theta, hll) = got(g)
      // exact ONLY strictly under k (at n = k the buffer is full and
      // the k-th minimum becomes a real θ — estimator, not count)
      val thetaTol =
        if (n < K) 0.0 else 6.0 * n / math.sqrt(K - 2.0) + 2.0
      val hllTol = math.max(0.05 * n, 10.0)
      Seq(
        Option.when(math.abs(theta - n) > thetaTol)(
          s"$g theta: est=$theta exact=$n tol=$thetaTol"),
        Option.when(math.abs(hll - n) > hllTol)(
          s"$g hll: est=$hll exact=$n tol=$hllTol")).flatten
    }
    spark.streams.active.foreach(s =>
      if (s.name == "graft_r11_sketch") s.stop())
    if (failures.nonEmpty)
      println("round11 sketch interop failures:\n  " +
        failures.mkString("\n  "))
    failures.isEmpty
  }
}
