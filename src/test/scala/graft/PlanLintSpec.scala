package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Static scale-lint over every query's physical plan: the rules the
  * per-round plan reviews enforce by hand, pinned as assertions so a new
  * query (or a regression in an old one) that reintroduces a scale
  * anti-pattern fails `sbt test` instead of waiting for a reviewer.
  *
  * Linted (on the pre-AQE plan, where forced shapes are visible):
  *   - CartesianProductExec — both-sides-shuffled all-pairs products;
  *     only the labeled brute-force baselines may carry one.
  *   - WindowExec with an empty partitionSpec — a single-task window over
  *     the full input; only justified post-aggregation bounded spines may.
  *   - BroadcastNestedLoopJoinExec whose broadcast side is NOT a scalar
  *     (no-grouping) aggregate — broadcasting an unbounded frame OOMs at
  *     scale, while scalar crossJoin(broadcast(count)) is the sanctioned
  *     pattern for corpus-level constants.
  */
class PlanLintSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}

  /** Labeled all-pairs baselines (their banded/bucketed scale twins sit
    * beside them in the catalog) and deliberate 1×1 composes. Currently
    * empty: nothing on the surface plans a shuffled cartesian product.
    */
  private val cartesianOk: Set[String] = Set()

  /** Bounded post-aggregation spines where a global window is the point.
    *   - t32: the lexical-leg rank numbers a top-`legK` frame (≤50 rows
    *     by construction — bm25TopK's TakeOrdered already ran); the
    *     partition key is the probe id, which Catalyst constant-folds
    *     away for the single-probe entry, leaving an empty spec over a
    *     bounded frame (a batched serving path carries real probe_id
    *     values and keys the window).
    */
  private val unpartitionedWindowOk: Set[String] = Set("t32_hybrid_rrf")

  /** Non-scalar broadcast NLJ allowlist — keyless joins whose broadcast
    * side is bounded BY CONSTRUCTION, not by data volume:
    *   - d5: labeled all-pairs cosine baseline (d2/d9/n-family are the
    *     scale paths sitting beside it)
    *   - d11: eval-battery side input — a fixed held-out set, not a
    *     corpus-scaling frame
    *   - d9/n3/n4/n7: k-centroid tables and 256-entry PQ codebook/LUT
    *     frames (k and codebook size chosen, ≪ corpus)
    *   - n9: the sample-trained centroid table — ~16 rows by the
    *     sampledTrainCentroids contract, corpus-size-INDEPENDENT (the
    *     strongest bound in this family)
    *   - n1: the probe batch of the brute-force baseline (per-request
    *     sized; the corpus side streams)
    *   - t32: the hybrid entry's semantic leg IS n1's shape (one probe
    *     broadcast against the streaming corpus side)
    *   - n10: n1's probe-batch broadcast over the dequantized corpus
    *     side (the SQ8 search is brute force on a byte-per-dim index)
    *   - n15: the packed-PQ probe LUT broadcast (probes × two
    *     m·K-slot long arrays — per-request sized like n1's batch)
    *     over the streaming packed-codes corpus side
    *   - n16: the two-level build's coarse layer — ~√nlist ≈ n^(1/4)
    *     rows by the coarseFrame modulus (the WHOLE POINT of the
    *     entry: the broadcast side shrinks a power below the flat
    *     assignment's √n centroid table), plus the ≤nlist cell-parent
    *     frame of the second hop
    *   - a24: the pairwise-overlap join crosses ONE ≤1KB HLL sketch row
    *     per group — group count is the overlap matrix's dimension, a
    *     user-chosen handful by the query's nature (the corpus-sized
    *     frame is consumed map-side by the sketch aggregate and never
    *     reaches this join)
    */
  private val nljOk: Set[String] = Set("d5_embedding_neardup",
    "d11_semantic_decontaminate", "d9_semantic_prune", "n1_ann_topk",
    "n3_ann_ivf", "n4_ann_ivf_trained", "n7_ann_ivfpq",
    "n9_ann_ivf_sampled", "t32_hybrid_rrf", "n10_ann_sq8",
    "n12_ann_filtered", "n13_ann_ivfsq8", "n14_ann_sq8_sampled",
    "n15_ann_pq_packed", "n16_ann_twolevel", "a24_set_overlap")

  private def isScalarAgg(p: SparkPlan): Boolean = p.collectFirst {
    case a: HashAggregateExec if a.groupingExpressions.isEmpty => true
    case a: SortAggregateExec if a.groupingExpressions.isEmpty => true
    case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => true
  }.isDefined

  // plain tree collect, not collectWithSubqueries: before execution,
  // subquery expressions still hold LOGICAL plans (casting them to
  // SparkPlan throws); the skipped subqueries are single-row anchor
  // probes, out of lint scope anyway
  private def violations(name: String, plan: SparkPlan): Seq[String] =
    plan.collect {
      case _: CartesianProductExec if !cartesianOk(name) =>
        Some(s"$name: CartesianProductExec (all-pairs shuffle product)")
      case w: WindowExec
          if w.partitionSpec.isEmpty && !unpartitionedWindowOk(name) =>
        Some(s"$name: WindowExec with no partitioning (single-task window)")
      case j: BroadcastNestedLoopJoinExec if !nljOk(name) =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        if (isScalarAgg(build)) None
        else Some(s"$name: BroadcastNestedLoopJoin over a non-scalar " +
          s"broadcast side")
    }.flatten

  /** Queries whose 100 TB story depends on a predicate REACHING the
    * parquet scan (PLANS.md documents each): time cutoffs through the
    * raw-nanos path, the keyset cursor through the as-of join's pushdown
    * rule, single-key lookups through the matrix joins, and the
    * event-type pre-filter on the serving matrix. Maps query →
    * column that must appear in some scan's PushedFilters.
    */
  private val mustPush: Map[String, String] = Map(
    // n12: the metadata predicate of the filtered ANN search must prune
    // the embeddings scan BEFORE any distance math (the 100 TB story:
    // row groups skip on the label filter, not post-hoc)
    "n12_ann_filtered" -> "label",
    "p2_time_window" -> "ts",
    "a14_multi_bucket" -> "ts",
    "api3_ohlcv_route" -> "ts",
    "api2_trades_page" -> "event_id",
    "api4_token_detail" -> "c_custkey",
    "api1_token_list" -> "event_type",
    // the TPC-H anchors' headline claims: Q6 is the pure
    // scan-filter-aggregate (every predicate at the scan); Q3/Q5/Q4
    // carry their date windows into the orders scan, Q12 into the
    // lineitem scan
    "b3_tpch_q6" -> "l_shipdate",
    "b2_tpch_q3" -> "o_orderdate",
    "b5_tpch_q5" -> "o_orderdate",
    "b6_tpch_q4" -> "o_orderdate",
    "b7_tpch_q12" -> "l_shipdate",
    // r10 anchors: Q10's quarter window reaches the orders scan (the
    // returnflag slice lands on lineitem's scan the same way), Q7's
    // two-year window the lineitem scan
    "b8_tpch_q10" -> "o_orderdate",
    "b9_tpch_q7" -> "l_shipdate",
    // b11's late-line probe prunes orders to status F at the scan; b13's
    // month window reaches the lineitem scan; b14's OR-of-ANDs must keep
    // at least the per-side disjunction envelope (quantity brackets) in
    // the fact scan — the regression this pin guards is the planner
    // giving up on the disjunction entirely
    "b11_tpch_q21" -> "o_orderstatus",
    "b13_tpch_q14" -> "l_shipdate",
    "b14_tpch_q19" -> "l_quantity",
    // b15's brand filter prunes the part scan before the semi join;
    // b16's quarter window reaches the lineitem scan
    "b15_tpch_q17" -> "p_brand",
    "b16_tpch_q15" -> "l_shipdate",
    // r13 partsupp anchors: b18's size/type slice prunes the part scan
    // before the min-cost join; b19's name pattern the part scan; b22's
    // shipping-year window the lineitem scan feeding the correlated
    // half-quantity aggregate
    "b18_tpch_q2" -> "p_size",
    "b19_tpch_q9" -> "p_name",
    "b22_tpch_q20" -> "l_shipdate")

  test("time-cutoff, keyset, and lookup queries keep their scan pushdown") {
    val missing = mustPush.toSeq.sortBy(_._1).flatMap { case (name, col) =>
      val scans = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metadata.getOrElse("PushedFilters", "")
        }
      if (scans.exists(_.contains(col))) Nil
      else Seq(s"$name: no parquet scan pushes a filter on '$col' " +
        s"(scans: ${scans.mkString(" | ")})")
    }
    assert(missing.isEmpty, "\n" + missing.mkString("\n"))
  }

  test("d18's capped pair generation aggregates in place (no self-join, " +
      "one chunking chain)") {
    // r17 shape (OPTIMIZATION_r17.md item #7): the capped branch of
    // cdcNearDup replaced the fingerprint self-join (whose two sides
    // each re-ran the whole scan→kernel→distinct→window chain — the
    // r16 ReusedExchange claim never actually fired across the join)
    // with collect_list(doc_id) per chunk_fp ON TOP of the cap window
    // + the codegen'd pair_combos explode. Pinned here: the chunking
    // chain runs ONCE (1 scan), no join node survives, the kernel is
    // in the plan, and the collect_list aggregate reuses the window's
    // chunk_fp hash partitioning (exactly one chunk_fp exchange).
    // Broadcast disabled so the asserted plan is the at-scale shape.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val finalPlan =
      try {
        spark.conf.set(thresholdKey, "-1")
        val df = SparkEntry.queries("d18_cdc_neardup")(spark, sfDir)
        // collect() executes THIS queryExecution (a write would spawn a
        // fresh one and leave this plan un-finalized); result is tiny
        df.collect()
        df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      } finally spark.conf.set(thresholdKey, saved)
    val planStr = finalPlan.toString
    // cdcChunks is map-side since the r14 CdcKernel (the boundary scan
    // no longer joins ends back onto the text), so ONE chain = 1 scan;
    // a second scan would mean some consumer re-ran the chain
    val scanLines = planStr.split("\n").count(_.contains("FileScan"))
    assert(scanLines == 1,
      s"d18's final plan has $scanLines file scans (expected 1 = one " +
        s"chunking chain):\n$planStr")
    assert(!planStr.contains("Join"),
      s"d18's capped path must not join (aggregate-and-explode form):\n" +
        planStr)
    assert(planStr.contains("PairCombosKernel.pairs"),
      s"pair_combos kernel missing from d18's final plan:\n$planStr")
    val fpExchanges = planStr.split("\n")
      .count(l => l.contains("Exchange hashpartitioning(chunk_fp"))
    assert(fpExchanges == 1,
      s"expected exactly 1 chunk_fp exchange shared by distinct/window/" +
        s"collect_list, found $fpExchanges:\n$planStr")
  }

  test("b19 prefilters lineitem with a LEFT SEMI on the red part keys " +
      "before the fact joins") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // b19's prefilter is ungated (only ~13% of lineitem survives the
    // red-part slice at every scale), so it must already be in the plan
    // at the test fixture
    val plan = SparkEntry.queries("b19_tpch_q9")(spark, sfDir)
      .queryExecution.sparkPlan
    val semiOverLineitem = plan.collect {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }.exists(_.left.collect {
      case f: FileSourceScanExec => f.output.map(_.name)
    }.flatten.contains("l_partkey"))
    assert(semiOverLineitem,
      s"b19 lost its LeftSemi lineitem prefilter:\n$plan")
  }

  test("j5's correlated scalar decorrelates to j4's aggregate + " +
      "left-outer join (no per-outer-row subquery survives)") {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val opt = SparkEntry.queries("j5_correlated_scalar")(spark, sfDir)
      .queryExecution.optimizedPlan
    // 1. no subquery expression survives optimization — Catalyst's
    //    decorrelation (RewriteCorrelatedScalarSubquery) must have fired;
    //    a surviving correlated scalar would execute per outer row
    val surviving = opt.collect {
      case p if p.expressions.exists(_.exists {
        case _: SubqueryExpression => true
        case _ => false
      }) => p.nodeName
    }
    assert(surviving.isEmpty,
      s"correlated subquery survived optimization in: $surviving\n$opt")
    // 2. the decorrelated shape IS j4's hand-written plan: a left-outer
    //    equi-join whose right side is the per-user aggregate of events
    val shape = opt.collectFirst {
      case j @ Join(_, _, LeftOuter, _, _)
          if j.right.collectFirst { case a: Aggregate => a }.isDefined => j
    }
    assert(shape.isDefined,
      s"expected LeftOuter join over an Aggregate (the j4 shape):\n$opt")
  }

  test("ivfTopK's cell join broadcasts the probe buckets (a shuffle " +
      "join on the ~nlist-valued cid key crushes the corpus into " +
      "<=nlist tasks)") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // force the threshold down so only the explicit broadcast() hint can
    // produce the BHJ — at fixture size the planner would broadcast
    // anyway and the pin would be vacuous
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val plan =
      try {
        spark.conf.set(thresholdKey, "-1")
        SparkEntry.queries("n9_ann_ivf_sampled")(spark, sfDir)
          .queryExecution.sparkPlan
      } finally spark.conf.set(thresholdKey, saved)
    def onCid(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.exists {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
          a.name == "cid"
        case _ => false
      })
    val shuffledOnCid = plan.collect {
      case j: SortMergeJoinExec if onCid(j.leftKeys) => j.nodeName
      case j: ShuffledHashJoinExec if onCid(j.leftKeys) => j.nodeName
    }
    assert(shuffledOnCid.isEmpty,
      s"cell join shuffled on cid: $shuffledOnCid\n$plan")
    assert(plan.collectFirst {
      case j: BroadcastHashJoinExec if onCid(j.leftKeys) => j
    }.isDefined, s"no broadcast hash join on cid in n9's plan:\n$plan")
  }

  test("filtered SQ8 serving pushes the metadata predicate into the " +
      "CODES scan (the persisted-artifact filtered-ANN serve shape)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // the production shape: metadata CO-LOCATED in the codes artifact,
    // so the serve-time predicate prunes the byte index's row groups —
    // not the raw embeddings table (n12's in-query pin) and not a
    // post-hoc join back to metadata
    val v = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sq8meta").toString
    try {
      val stats = Similarity.sq8Stats(v)
      stats.write.mode("overwrite").parquet(s"$dir/stats")
      Similarity.sq8EncodeWithMeta(v, stats, Seq("label"))
        .sortWithinPartitions("label")
        .write.mode("overwrite").parquet(s"$dir/codes")
      val served = Similarity.sq8TopKFromCodes(
        v.filter(col("vec_id") < 10),
        spark.read.parquet(s"$dir/stats"),
        spark.read.parquet(s"$dir/codes").filter(col("label") < 3),
        k = 5)
      val codesScans = served.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.getOrElse("Location", "").contains("codes") =>
          f.metadata.getOrElse("PushedFilters", "")
      }
      assert(codesScans.nonEmpty, "no codes scan in the served plan")
      assert(codesScans.exists(_.contains("label")),
        s"codes scan lost the label pushdown: $codesScans")
      // and the filter is semantically the pre-filter: every hit
      // satisfies the predicate and each probe still gets k
      val labels = v.select("vec_id", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val rows = served.select("probe_id", "neighbor_id").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => labels(r.getLong(1)) < 3))
      assert(rows.groupBy(_.getLong(0)).values.forall(_.length == 5))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("runtime bloom-filter injection fires for a selective-dim shuffle " +
      "join (Spark's 100 TB semi-join reduction lever is available and " +
      "our scan shapes don't defeat it)") {
    import org.apache.spark.sql.functions.col
    // thresholds exist for real clusters; at fixture scale the application
    // side is tiny and the join would broadcast, so force the shuffle-join
    // world the rule targets and drop the size floors — the PIN is that
    // the optimizer can see through our reader stack (normTs projections,
    // nanos filters) well enough to inject, not the thresholds themselves
    val saves = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, sfDir)
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"no runtime bloom filter injected into the fact side:\n$opt")
    } finally saves.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("engine code reads no JVM property or environment variable") {
    // No measurement-only knob is read from engine code: the
    // mains that take their settings from the environment (Bench,
    // Scaling, Verify, tools/) are the only readers.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val skipped = Set("Bench.scala", "Scaling.scala", "Verify.scala")
    val reads = "sys\\.props|System\\.getProperty|sys\\.env|System\\.getenv".r
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.toList finally w.close()
    }.filter(_.toString.endsWith(".scala"))
      .map(f => f -> root.relativize(f).toString)
      .filterNot { case (_, rel) =>
        rel.startsWith("tools/") || skipped(rel) }
    assert(files.size > 30, s"scanned only ${files.size} files")
    val found = files.flatMap { case (f, rel) =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if reads.findFirstIn(line).isDefined =>
          s"$rel:${i + 1}: ${line.trim}"
      }
    }
    assert(found.isEmpty, "\n" + found.mkString("\n"))
  }

  test("kernel expressions carry no hand-written codegen") {
    // Every kernel is one StaticInvoke of its static method (codegen and
    // interpreted evaluation share that one call); a class overriding
    // doGenCode here would reintroduce a second, hand-written copy of a
    // kernel call that can drift from its eval path.
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(
      "src/main/scala/graft/plans/Expressions.scala")
    assert(java.nio.file.Files.isRegularFile(src), src.toAbsolutePath)
    val found = java.nio.file.Files.readAllLines(src).asScala.zipWithIndex
      .collect { case (line, i) if line.contains("def doGenCode") =>
        s"Expressions.scala:${i + 1}: ${line.trim}" }
    assert(found.isEmpty, "\n" + found.mkString("\n"))
  }

  test("no query plan carries an unjustified scale anti-pattern") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        try violations(name, q(spark, sfDir).queryExecution.sparkPlan)
        catch {
          case e: Throwable =>
            Seq(s"$name: plan construction failed: ${e.getMessage}")
        }
    }
    assert(found.isEmpty, "\n" + found.mkString("\n"))
  }
}
