package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.plans.HeavyHittersAgg.heavyHitters
import graft.plans.MgBuffer

/** The mergeable-sketch battery behind a23 (Misra–Gries heavy hitters)
  * and a24 (HLL set overlap), and the bloom prune behind b5/b9/b17/d12:
  * the guarantees the oracle entries rely on,
  * pinned on data far more adversarial than the uniform fixtures.
  */
class SketchSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  /** Deterministic zipf-ish stream: item i (1-based) appears ~N/i times.
    * Real skew — the fixture events are uniform, so the guarantee is
    * exercised here instead.
    */
  private def zipf(items: Int, scale: Int): Seq[Long] =
    (1 to items).flatMap(i => Seq.fill(scale / i)(i.toLong))

  test("MG guarantee: every item with count > n/(k+1) survives the " +
      "sketch, under adversarial skew and any partitioning") {
    val data = zipf(200, 2000) // 2000 + 1000 + 666 + ... ; n ≈ 11878
    val n = data.size.toLong
    val k = 16
    val exactHh = data.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * (k + 1) > n).keys.toSet
    assert(exactHh.nonEmpty && exactHh.size < k,
      s"fixture degenerate: ${exactHh.size} true HH for k=$k")
    for (parts <- Seq(1, 4, 13)) {
      // shuffle the stream deterministically so partitions are not
      // contiguous zipf runs (the merge path sees mixed summaries)
      val rng = new scala.util.Random(42 + parts)
      val cand = rng.shuffle(data).toDF("item").repartition(parts)
        .agg(heavyHitters(col("item"), k).as("cand"))
        .head.getSeq[Long](0).toSet
      assert(cand.size <= k, s"summary exceeded k: ${cand.size}")
      val missed = exactHh -- cand
      assert(missed.isEmpty,
        s"MG guarantee violated at parts=$parts: true heavy hitters " +
          s"$missed absent from candidates $cand")
    }
  }

  test("MG buffer merge is order-insensitive on the guarantee and " +
      "conserves n exactly") {
    val streams = Seq(zipf(50, 500), zipf(30, 900).map(_ + 25),
      (1L to 400L).toSeq) // overlapping skew + an all-distinct tail
    val k = 12
    def build(s: Seq[Long]): MgBuffer = {
      val b = new MgBuffer(k); s.foreach(b.add); b
    }
    val n = streams.map(_.size.toLong).sum
    val all = streams.flatten
    val exactHh = all.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * (k + 1) > n).keys.toSet
    for (order <- Seq(Seq(0, 1, 2), Seq(2, 0, 1), Seq(1, 2, 0))) {
      val merged = new MgBuffer(k)
      order.foreach(i => merged.absorb(build(streams(i))))
      assert(merged.n == n, s"n not conserved: ${merged.n} != $n")
      assert(merged.counts.size <= k)
      val missed = exactHh -- merged.counts.keys.toSet
      assert(missed.isEmpty,
        s"merge order $order lost true heavy hitters $missed")
    }
  }

  test("all-distinct stream: summary stays k-bounded and add stays " +
      "amortized (decrement path exercised)") {
    val b = new MgBuffer(8)
    (1L to 10000L).foreach(b.add)
    assert(b.n == 10000L)
    assert(b.counts.size <= 8)
  }

  test("a23's exact-recount output is invariant to input partitioning " +
      "(MG candidate sets are not — the threshold pass makes it so)") {
    val q = SparkEntry.queries("a23_heavy_hitters")
    val base = q(spark, sfDir).collect().map(_.toString).sorted
    // same query over a repartitioned-input session path: rerun suffices
    // (lazy plans re-read parquet; splits at local[4] already vary), so
    // instead force a different shuffle width for the sketch stage
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val other =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        q(spark, sfDir).collect().map(_.toString).sorted
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert(base.sameElements(other),
      "a23 output changed under a different merge topology")
  }

  test("heavy_hitters is callable from SQL after registration") {
    graft.plans.GraftExtensions.register(spark)
    val df = Tables.events(spark, sfDir)
    df.createOrReplaceTempView("ev_hh")
    val out = spark.sql(
      "SELECT event_type, heavy_hitters(user_id, 8) AS cand " +
        "FROM ev_hh GROUP BY event_type")
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getSeq[Long](1).size <= 8))
  }

  test("SQL registrations carry the input-type contract: numeric args " +
      "coerce like the Column wrappers, mistyped args fail at analysis") {
    // (r14 advice) the SQL builders wrap args in Cast: before the fix a
    // string column reached HeavyHittersAgg.update untyped and threw
    // ClassCastException ON EXECUTORS; now coercible types cast exactly
    // as the wrapper's .cast("long") and a non-castable type fails the
    // Cast's analysis check with a named error
    graft.plans.GraftExtensions.register(spark)
    Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("x", "s")
      .createOrReplaceTempView("hh_types")
    // INT item coerces to long at analysis; the hot item survives
    val cand = spark.sql(
      "SELECT heavy_hitters(x, 2) AS c FROM hh_types")
      .head().getSeq[Long](0)
    assert(cand.contains(1L))
    // an array item cannot cast to long — analysis-time failure, not a
    // ClassCastException from an executor
    val e = intercept[Exception] {
      spark.sql("SELECT heavy_hitters(array(x), 2) FROM hh_types")
        .collect()
    }
    assert(!e.isInstanceOf[ClassCastException], s"executor CCE leaked: $e")
    // cdc_ends: string passes through, and a NUMERIC argument coerces
    // through Cast-to-string (ANSI allows any type → string — the same
    // representation the DataFrame API's cast would produce) instead of
    // ClassCastException-ing inside nullSafeEval on an executor
    assert(spark.sql("SELECT cdc_ends(s, 2) FROM hh_types").count() == 4)
    assert(spark.sql("SELECT cdc_ends(x, 2) FROM hh_types").count() == 4)
  }

  test("null items are skipped: neither counted in n nor eligible as " +
      "candidates") {
    val df = Seq[(java.lang.Long, Int)]((1L, 0), (1L, 0), (null, 0),
      (2L, 0), (null, 0)).toDF("item", "g")
    val out = df.groupBy($"g")
      .agg(heavyHitters($"item", 4).as("cand"))
      .head.getSeq[Long](1).toSet
    assert(out == Set(1L, 2L))
  }

  test("HLL inclusion–exclusion overlap is near-exact at coupon-mode " +
      "cardinalities (the a24 bound is conservative)") {
    // two 400-element sets with a 150-element intersection
    val a = (1L to 400L).map(("a", _))
    val b = (251L to 650L).map(("b", _))
    val df = (a ++ b).toDF("grp", "id")
    val sk = df.groupBy($"grp").agg(expr("hll_sketch_agg(id)").as("sk"))
    val est = sk.as("x").join(sk.as("y"), $"x.grp" < $"y.grp")
      .select((expr("hll_sketch_estimate(x.sk)")
        + expr("hll_sketch_estimate(y.sk)")
        - expr("hll_sketch_estimate(hll_union(x.sk, y.sk))"))
        .cast("double").as("est"))
      .head.getDouble(0)
    assert(math.abs(est - 150d) <= 150d * 0.05 + 16d,
      s"overlap estimate $est outside a24's bound around 150")
  }

  test("bloomPrune keeps every row whose key is in the key set, and the " +
      "pruned join equals the plain join") {
    val big = (0L until 5000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4)
    // every 7th id, half of them beyond big's range; 10 bits per key
    val keys = (0L until 10000L by 7L).toDF("key")
    val nk = keys.count()
    val pruned = graft.plans.Expressions
      .bloomPrune(big, col("k"), keys, nk, 10L * nk)
    val kept = pruned.select(col("k")).as[Long].collect().toSet
    val inKeys = (0L until 5000L by 7L).toSet
    assert(inKeys.subsetOf(kept), s"false negatives: ${inKeys -- kept}")
    assert(kept.size < 1000, s"the bloom pruned too little: ${kept.size}")
    def joined(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.join(keys, col("k") === col("key")).select(col("k"), col("v"))
        .as[(Long, String)].collect().toSeq.sorted
    assert(joined(pruned) == joined(big))
  }
}
