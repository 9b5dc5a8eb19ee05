package graft

import java.nio.file.{Files, Paths}

/** Full-suite oracle fixture at sf1-class volume (dev tooling, like
  * ScaleProbe/BenchTpch): materialize a COMPLETE, FK-valid 10-table
  * world at `factor`× the base fixture's fact volume, suitable for
  * running the ENTIRE Verify + check_oracle gate a decade above the
  * sf0.1 sweep (round 12 found two real engine/oracle divergences only
  * when the scale moved a decade; this is the next decade).
  *
  * Layout choices, per table:
  *   - region/nation/customer/supplier/part: copied unchanged — every
  *     foreign key in the replicated facts still resolves, and the
  *     dimension-bounded query outputs stay comparable across decades.
  *   - orders/lineitem: replicated with offset ORDER keys only
  *     (BenchTpch's scheme, shared offset math via scaleKeyed) — each
  *     customer carries factor× orders, which is exactly the fact-heavy
  *     join pressure the decade sweep wants.
  *   - events: replicated with offset event_id/user_id (independent
  *     user populations per replica, so session/funnel semantics are
  *     realistic rather than interleaved); ts written as timestamp_ntz
  *     so DuckDB reads a real TIMESTAMP (see the guard below).
  *   - documents/embeddings: ScaleProbe's perturbation replicas (100
  *     distinct character maps / 128 isometries) so dedup and ANN
  *     operators see decorrelated near-dup structure, not synthetic
  *     exact-dup blowup.
  *
  *   sbt "runMain graft.ScaleFixture /root/testdata/sf0.1 /tmp/graft_sf1_full 10"
  *
  * Then: sbt "runMain graft.Verify /tmp/graft_sf1_full /tmp/verify_sf1"
  * and tools/check_oracle.py with the heavyweight split recipe.
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1_full")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Engine.session("graft-scale-fixture")

    // lineitem last = fixture-complete marker (BenchTpch's crash-safety
    // rule: a half-built dir is finished by the next run, never trusted)
    if (!Files.exists(Paths.get(s"$out/lineitem.parquet"))) {
      Files.createDirectories(Paths.get(out))
      Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
        Tables.load(spark, base, n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
      ScaleProbe.scaleDocuments(spark, base, factor)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      ScaleProbe.scaleEmbeddings(spark, base, factor)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      ScaleProbe.scaleKeyed(spark, base, "orders", Seq("o_orderkey"), factor)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      ScaleProbe.scaleKeyed(spark, base, "lineitem", Seq("l_orderkey"), factor)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    // events get their own guard + the MICROS/NTZ layout, NOT ScaleProbe's
    // nanos-long layout: this fixture feeds the DuckDB oracle, which reads
    // the parquet directly — a nanos-era LONG column is just BIGINT to it
    // and every ts-typed oracle dies on the cast (the r14 sweep's 17
    // failures). timestamp_ntz writes parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false): DuckDB reads naive TIMESTAMP, Tables.load's
    // schema gate normalizes the TIMESTAMP_NTZ read to session-local
    // TimestampType — the driver's own micros-era fixture layout.
    // Existence alone is not enough: a fixture dir built before the
    // micros-era change still holds the stale nanos-BIGINT layout, so the
    // guard also validates the stored ts type and rewrites on mismatch.
    val eventsStale = Files.exists(Paths.get(s"$out/events.parquet")) && {
      import org.apache.spark.sql.types.{LongType, StructType}
      val tsField = Tables.readParquet(spark, s"$out/events.parquet")
        .schema.asInstanceOf[StructType].fields.find(_.name == "ts")
      tsField.exists(_.dataType == LongType)
    }
    if (eventsStale) println(s"[fixture] rewriting stale nanos-BIGINT events.parquet in $out")
    if (eventsStale || !Files.exists(Paths.get(s"$out/events.parquet"))) {
      ScaleProbe.scaleKeyed(spark, base, "events", Seq("event_id", "user_id"), factor)
        .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    Tables.names.foreach { n =>
      println(s"[fixture] $n rows=" + Tables.load(spark, out, n).count())
    }
    spark.stop()
  }
}
