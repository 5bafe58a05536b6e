package graft

import org.apache.spark.sql.functions.col

/** Physical-plan regressions: the properties that make these queries
  * scale are asserted here so a refactor can't silently lose them —
  * SURVEY.md §4's "free from Catalyst" rewrites are only free while the
  * plan keeps them. Plans are inspected AFTER an execution so AQE's
  * final plan (not the provisional one) is what's checked.
  */
class PlanSpec extends SparkSpec {

  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Every object that calls Memo.declare, DISCOVERED from source (not
    * a hand-kept list — round-6 verdict: a new owner object could be
    * forgotten from the forced-init Seq and its declarations would be
    * invisible here until some other test happened to execute one of
    * its queries). A file whose top-level object can't be reflected
    * fails loudly instead of silently dropping out of the pin surface. */
  private def memoOwnerClasses: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(_.getFileName.toString != "Memo.scala")
        .flatMap { p =>
          val src = java.nio.file.Files.readString(p)
          if (!src.contains("Memo.declare(")) Nil
          else {
            val pkg = "(?m)^package\\s+([\\w.]+)".r
              .findFirstMatchIn(src).map(_.group(1))
              .getOrElse(fail(s"$p declares a memo kind but has no package"))
            // EVERY top-level object in the file, not just the first:
            // a helper object declared above the owner would otherwise
            // absorb the forced init and the owner's declarations would
            // silently miss the pin surface (extra inits are harmless)
            val objs = "(?m)^object\\s+(\\w+)".r
              .findAllMatchIn(src).map(_.group(1)).toSeq
            if (objs.isEmpty)
              fail(s"$p calls Memo.declare outside a top-level object — " +
                "the forced-init path can't reach it")
            objs.map(o => s"$pkg.$o$$")
          }
        }.toSeq.sorted
    } finally walk.close()
  }

  /** Fresh twins of every Memo-registered builder — the self-
    * maintaining replacement for the hand-kept pin lists (a memoized
    * builder whose kind isn't declared throws at first use, and every
    * declared kind lands here automatically). Owner objects are
    * discovered from source and force-initialized reflectively so
    * their declarations run even if no query executed yet. */
  private def memoFresh: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    memoOwnerClasses.foreach { cn =>
      Class.forName(cn).getField("MODULE$").get(null) // force object init
    }
    Memo.freshBuilders.toSeq.sortBy(_._1)
      .map { case (kind, build) => s"memo:$kind(fresh)" -> build(spark, sf001) }
  }

  test("memoized-builder registry is complete and cannot be bypassed") {
    // (a0) owner discovery finds the known declaring objects — catches
    // a regex/reflection drift that would silently empty the forced-
    // init path (every assertion below would then vacuously pass)
    val owners = memoOwnerClasses
    assert(Set("graft.ext.Dedup$", "graft.ext.Sampling$",
      "graft.ext.Sketches$").subsetOf(owners.toSet),
      s"owner discovery lost a known declaring object: $owners")
    // (a) every historically-pinned kind is still declared — catches a
    // refactor that silently drops a fresh twin from the registry
    val kinds = { memoFresh; Memo.freshBuilders.keySet }
    val known = Set("minhash", "ngram", "docsets", "simhash", "dsir",
      "registers")
    assert(known.subsetOf(kinds),
      s"missing fresh declarations: ${known -- kinds}")
    // (b) no main-source memo cache outside the registry: Scratch (the
    // per-query scratch pool) and Memo itself are the only files
    // allowed to hold a TrieMap, so a new session cache MUST route
    // through Memo.memoized and therefore declare a fresh twin
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("TrieMap"))
      .map(_.getFileName.toString).toSet
    assert(offenders.subsetOf(Set("Memo.scala", "Scratch.scala")),
      s"memo caches outside the Memo registry: " +
        s"${offenders -- Set("Memo.scala", "Scratch.scala")}")
  }

  test("the IVF-PQ format is written only in IvfPq.scala") {
    // the probe list, the ADC terms and the fused residual encode each
    // have one definition; a copy elsewhere in ext/ would let the
    // codebook layout or the ADC fold order drift between faces
    import scala.jdk.CollectionConverters._
    val marks = Seq("dot_product_off(", "nearest_l2_code_residual(",
      "ivfScores(")
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala/graft/ext"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "IvfPq.scala")
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        marks.filter(text.contains).map(m => s"${p.getFileName}: $m")
      }.toList
    assert(offenders.isEmpty, s"IVF-PQ format copied outside IvfPq: $offenders")
  }

  test("parquet reads in main source declare their schema") {
    // an unpinned read.parquet( infers the schema with a Spark job on
    // every call; fixtures go through Tables.load and artifact tables
    // through IndexArtifact's declared schemas, written
    // read.schema(...).parquet( so they don't match here. Only reads
    // of caller-supplied paths may infer: the stream source directory
    // (its ts type follows the generator), the stream sink check, and
    // Layout's compactions.
    import scala.jdk.CollectionConverters._
    val allowed = Set("StreamJobs.scala", "Layout.scala")
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p)
        .contains("read.parquet("))
      .map(_.getFileName.toString).toSet
    assert((offenders -- allowed).isEmpty,
      s"schema-inferring parquet reads: ${offenders -- allowed}")
  }

  test("no declared query plans a cartesian product or unbounded BNLJ") {
    // A BroadcastNestedLoopJoin is fine ONLY when its build side is a
    // CONSTANT-bounded broadcast — cost stays O(scan) at any scale:
    //  - q13/q57: NQueries(=8) query vectors × the candidate scan
    //  - q56: a 1-row scalar total crossed back into the top-k
    //  - q73: the 1-row corpus token total crossed into the per-doc
    //    scores (an anchor-literal rewrite would recompute the whole
    //    explode+agg in a second job — the scalar BNLJ is cheaper)
    //  - q81: composes q13's exact top-k as its ground truth, so it
    //    inherits the same NQueries-bounded broadcast
    //  - q89: the 1-row (N, avgdl) corpus-stats broadcast, same scalar
    //    shape as q73
    //  - q76: the 1-row string-min/max side agg crossed back into the
    //    1-row distinct-count agg (both sides constant-bounded)
    //  - q111: ADC scoring crosses the NQueries(=8) normalized query
    //    vectors into the encoded-candidate scan — the same bounded
    //    shape as q13, with the candidate side compressed to PQ codes
    //  - q113: the |sources|×V smoothing grid crosses the CONSTANT
    //    vocab (≤ 200 rows) into the per-source totals — both bounded
    //  - q115: the source-pair grid crosses |sources| signature rows
    //    (bounded metadata, the q86 marginal assumption) into itself
    //  - q124: the CDF grid crosses the length support (bounded by max
    //    document length) into the |sources| totals — both bounded
    //  - q133: the type-pair grid crosses |event_types| distinct values
    //    into itself (≤ dozens of rows); every join touching users or
    //    registers stays an equi-join
    //  - q141: the q13 shape with sliced vectors — NQueries(=8)
    //    broadcast query rows crossed into the candidate scan
    //  - q142: the 1-row corpus-total anchor crossed into per-doc
    //    scores (q73's own shape, constant-bounded)
    //  - q153: the |labels|²/2 centroid-pair grid — 10 broadcast rows
    //    crossed into themselves; the corpus scan stays upstream
    // Everything else must plan hash/sort-merge joins, and nothing may
    // ever plan an unbroadcast CartesianProduct.
    val boundedBroadcastOk = Set(
      "q13_embedding_topk", "q56_vocab_coverage", "q57_knn_label_agreement",
      "q73_lm_score", "q76_profile", "q81_ann_recall", "q89_bm25",
      "q111_pq_ann", "q113_source_drift", "q115_source_resemblance",
      "q124_length_ks", "q133_hll_overlap", "q141_mrl_recall",
      "q142_ccnet_buckets", "q153_centroid_matrix",
      // q172: the calendar-day grid crosses the CONSTANT 256-bucket
      // list — days×m register rows, bounded by elapsed time
      "q172_new_users_curve",
      // q185: the q25 IVF shape swept over nprobe values — still the
      // NQueries(=8)-bounded query broadcast crossed into candidates
      "q185_ivf_probe_sweep",
      // q190: the 1-row avg-balance threshold anchor crossed into the
      // customer scan (q73's scalar shape)
      "q190_idle_customers",
      // q191: two 1-row aggregates (global totals × top-10 totals)
      // crossed per audited key — constant-bounded on both sides
      "q191_skew_audit",
      // q195: the 1-row corpus doc-count anchor crossed into the
      // word-df dictionary (scalar shape again)
      "q195_weighted_jaccard",
      // q196: the |labels|(=10) centroid list broadcast-crossed into
      // per-vector rows on label inequality — q153's bounded grid
      "q196_silhouette",
      // q198: NQueries(=8) anchor vectors crossed into the candidate
      // scan — exactly the q13 shape with a label-mismatch predicate
      "q198_hard_negatives",
      // q212: the 1-row (N, G) mixture anchor crossed into the
      // |source×lang| cell aggregate (q73's scalar shape)
      "q212_target_mix_weights",
      // q223: the |sources|×|sources| transfer grid crosses two S-row
      // per-source total aggregates — both sides bounded by the source
      // count, the q113 bounded-grid shape
      "q223_lm_transfer",
      // q225: the 1-row clustered-doc total anchor crossed into the
      // per-cluster-size aggregate (q73's scalar shape)
      "q225_cluster_transitivity",
      // q226: the 1-row (total tokens, source count) anchor crossed
      // into the S-row per-source aggregate (q212's scalar shape)
      "q226_epoch_planner",
      // q230: the 1-row token-total anchor crossed into the
      // |ContextLens|-row sweep aggregate (q73's scalar shape)
      "q230_context_sweep",
      // q232: two 1-row anchors (censor day, cohort size) crossed into
      // the per-user and per-exit-day aggregates (q73's scalar shape)
      "q232_km_survival",
      // q242: embeds q13's exact-eval subplan — the NQueries(=8)-bounded
      // query broadcast theta-crossed into the corpus scan
      "q242_ann_rank_quality",
      // q243: the 1-row q̂ / n_cal conformal anchors crossed into the
      // histogram and the test half (q73's scalar shape)
      "q243_conformal_coverage",
      // q244: the 1-row corpus total crossed into the |sources| counts
      // (q73's scalar shape)
      "q244_shuffle_audit",
      // q247-q250: the derived partsupp crosses the 1-row supplier
      // COUNT anchor into the part scan (q73's scalar shape — the
      // suppkey derivation itself is a map-side expression); q248 adds
      // the 1-row (total, groups) threshold anchor on top
      "q247_min_cost_supplier", "q248_important_stock",
      "q249_supplier_part_types", "q250_promotable_suppliers",
      // q268: the q13 shape scored four ways on the same rows —
      // NQueries(=8) query vectors broadcast into ONE candidate scan
      "q268_whiten_recall",
      // q270: the same q13 pool-construction shape; the greedy rerank
      // downstream runs over the RerankPool(=30)-bounded groups
      "q270_mmr_rerank",
      // q271: audits q270's picks, so it embeds the same bounded
      // pool-construction broadcasts (plain + rerank); the label
      // lookups stay unhinted equi-joins
      "q271_rerank_tradeoff",
      // q272: the q13 scoring broadcast per space plus the 24-row
      // probe-set broadcast (NQueries x NProbe, constant-bounded)
      "q272_whiten_ivf",
      // q273: q272's audit shape composed with q111's PQ — the same
      // NQueries scoring broadcast and 24-row probe-set broadcast per
      // space; codebooks ride as literals, never as join sides
      "q273_ivf_pq",
      // q275: q270's bounded pool-construction broadcast on the exact
      // arm (the ANN arm joins by cid, q25's shape)
      "q275_ann_rerank",
      // q276: q273's audit shape per arm — the same NQueries scoring
      // broadcast and 24-row probe-set broadcast
      "q276_index_maintain",
      // q283: q276's two arms over the PolicyQueries-per-batch cohort
      // (DriftBatches·PolicyQueries = 32 queries, constant-bounded)
      "q283_retrain_policy",
      // q278/q279: q273's serving audit run FROM the persisted
      // artifact — the same NQueries scoring broadcast and 24-row
      // probe-set broadcast; the corpus-sized joins (encoded×forward)
      // stay equi-joins on vec_id
      "q278_index_serve", "q279_sampled_gt_serve",
      // q280: the same served-audit shape over the merged artifact
      "q280_index_merge",
      // q281: q278's serving shape with the label metadata riding in
      // by vec_id EQUI-join; the only non-equi join is the same
      // NQueries-bounded query broadcast
      "q281_filtered_serve")
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct"))
        Some(s"$name: CartesianProduct") else None
      val bnlj = if (plan.contains("BroadcastNestedLoopJoin") &&
          !boundedBroadcastOk(name))
        Some(s"$name: BroadcastNestedLoopJoin") else None
      cart ++ bnlj
    }
    assert(bad.isEmpty, s"unbounded join plans: ${bad.mkString("; ")}")
  }

  test("q01/q02: fact x dim equi-joins broadcast the dim side") {
    Seq("q01_revenue_by_category", "q02_top_customers").foreach { q =>
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q must broadcast the dim side:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q must not sort-merge a broadcastable dim:\n$plan")
    }
  }

  test("q101: the per-day rank filter plans as a partial WindowGroupLimit") {
    val plan = finalPlan("q101_trending_terms")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k over (day) partitions must group-limit before the shuffle:\n$plan")
  }

  test("q103: the LATERAL subquery decorrelates to a group-limited join") {
    val plan = finalPlan("q103_lateral_topk")
    assert(plan.contains("WindowGroupLimit") && plan.contains("HashJoin"),
      s"lateral must rewrite to WindowGroupLimit + hash join, not a " +
        s"per-row subquery:\n$plan")
  }

  test("q03: the 12-month range filter reaches the parquet scan") {
    val plan = finalPlan("q03_monthly_trend")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"date range must be pushed into the scan:\n$plan")
  }

  test("q144: both fact filters push to the scans and top-k is TakeOrdered") {
    val plan = finalPlan("q144_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem ship-date filter must reach the scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders date filter must reach the scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"decimal top-10 must plan as TakeOrderedAndProject, not a full sort:\n$plan")
  }

  test("q159: market share windows over the aggregate, scans lineitem once") {
    // the AQE toString prints the tree twice (initial + final), so "one
    // scan" == at most one mention per printed tree
    val plan = finalPlan("q159_market_share")
    assert("lineitem\\.parquet".r.findAllIn(plan).size <= 2,
      s"the share denominator must come from the window, not a rescan:\n$plan")
    assert(plan.contains("Window"),
      s"share must come from a window over the aggregate:\n$plan")
  }

  test("q06: NOT EXISTS plans as a broadcast anti-join") {
    val plan = finalPlan("q06_customers_without_orders")
    assert(plan.contains("LeftAnti"), s"anti-join expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"fixture-sized build side should broadcast:\n$plan")
  }

  test("q02: rank-filter top-k plans as WindowGroupLimit, not full sort") {
    // the rank() <= 5 filter must push a group limit below the window so
    // each partition keeps a bounded buffer instead of ranking all rows
    val plan = finalPlan("q02_top_customers")
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must push down as a window group limit:\n$plan")
  }

  test("LSH/prefix candidate joins stay hash-based (no nested loop)") {
    // memoized artifacts are session-pinned behind a checkpoint, so
    // their declared plans are scans; the FRESH builders (from the
    // Memo registry — self-maintaining, see memoFresh) are the
    // pipeline's single plan source and are pinned here instead.
    val declared = Seq("q14_ann_lsh", "q27_embedding_neardup")
      .map(q => q -> SparkEntry.queries(q)(spark, sf001))
    (memoFresh ++ declared).foreach { case (q, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q candidate join degenerated to a product:\n$plan")
    }
  }

  test("q55: bucketed range join is a broadcast hash join, not a product") {
    // the entire point of the grid discretization: a theta-only join
    // would plan BroadcastNestedLoopJoin and die at 100 TB
    val plan = finalPlan("q55_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join degenerated to a product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"20 anchor intervals must broadcast:\n$plan")
  }

  test("q264/q266: whitening is map-only — no join, bounded exchanges") {
    // the rotation ships as expression literals from the driver model;
    // a regression that joins q264's output back (or shuffles anything
    // besides the output sort / the |labels| agg) breaks the 100 TB
    // story. q264: scan -> project -> sort = at most 1 exchange.
    // AQE's toString appends "== Initial Plan ==" repeating every
    // Exchange — count only the executed (final) section
    def finalSection(p: String): String = p.split("== Initial Plan ==")(0)
    val p264 = finalSection(finalPlan("q264_pca_whiten"))
    assert(!p264.contains("Join"), s"q264 must not join:\n$p264")
    val ex264 = "Exchange".r.findAllIn(p264).length
    assert(ex264 <= 1, s"q264 planned $ex264 exchanges (sort only):\n$p264")
    // q266: scan -> row-local scoring -> one hash agg (+ final sort);
    // partial+final agg = at most 2 exchanges, still no join
    val p266 = finalSection(finalPlan("q266_whiten_payoff"))
    assert(!p266.contains("Join"), s"q266 must not join:\n$p266")
    val ex266 = "Exchange".r.findAllIn(p266).length
    assert(ex266 <= 2, s"q266 planned $ex266 exchanges:\n$p266")
  }

  test("no declared query plans an unpartitioned Window over unbounded input") {
    // THE scale invariant for window functions: an empty partitionSpec
    // funnels every row through ONE task. A global window is admissible
    // only when its input is provably bounded BELOW it in the plan:
    //  - WindowGroupLimit (the q02 rank≤k shape: each map partition
    //    forwards ≤ k rows, so the single-partition window sees
    //    ≤ k·#partitions rows — bounded by cluster size, not data), or
    //  - GlobalLimit / TakeOrderedAndProject (a constant-k cut, the
    //    q56 top-k coverage-curve shape),
    // plus ONE named exemption whose bound is semantic, not structural:
    //  - q58_rolling_daily windows over one row per CALENDAR DAY after
    //    the daily aggregation — input grows with elapsed time, never
    //    with data volume.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    // q167 windows over one row per calendar MONTH, q172 over one row
    // per calendar DAY (after the register cumulation) — same argument
    // q232 windows over one row per exit DAY (after the day-level
    // aggregation) — the same elapsed-calendar bound
    // q239 windows over one row per LENGTH BAND after the bucket-count
    // aggregation — input bounded by max doc length / band width, the
    // same bounded-input argument on a non-calendar axis
    // q243 windows over the calibration nonconformity HISTOGRAM — one
    // row per micro-unit score value, ≤ 1e6+1 rows bounded by the score
    // grid, never corpus size (the same bounded-input argument)
    // q283 windows over one row per INGEST BATCH after the per-batch
    // aggregation — DriftBatches(=8) rows by constant, the strongest
    // bound in this list (the first_trigger_batch decision column)
    val calendarBoundedOk =
      Set("q58_rolling_daily", "q167_mom_growth", "q172_new_users_curve",
        "q232_km_survival", "q236_log_rank", "q237_forecast_backtest",
        "q239_padding_waste", "q243_conformal_coverage",
        "q283_retrain_policy")
    // memoized builders hide behind a checkpoint scan in declared plans —
    // pin their fresh plans alongside (the ADVICE r4 dsir gap, now
    // sourced from the Memo registry so no builder can skip the list)
    val all = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(calendarBoundedOk)
      .map(name => name -> SparkEntry.queries(name)(spark, sf001)) ++
      memoFresh
    val bad = all.flatMap { case (name, df) =>
      val plan = df.queryExecution.sparkPlan
      plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            w.find(n => n.isInstanceOf[WindowGroupLimitExec] ||
              n.isInstanceOf[GlobalLimitExec] ||
              n.isInstanceOf[TakeOrderedAndProjectExec]).isEmpty =>
          s"$name: ${w.nodeName} over [${w.orderSpec.mkString(", ")}]"
      }
    }
    assert(bad.isEmpty, s"unpartitioned windows: ${bad.mkString("; ")}")
  }

  test("no declared plan force-broadcasts a corpus-proportional frame") {
    // THE scale invariant for the dedup/ANN re-attach joins: a forced
    // broadcast() hint overrides Catalyst's size check, so a hint on a
    // frame that still carries a per-row identity (doc_id / vec_id and
    // their renames) over a documents/embeddings scan is a guaranteed
    // driver/executor OOM at 100 TB, not a graceful degradation. Those
    // joins must stay UNHINTED — AQE broadcasts them at runtime while
    // they are small and shuffles on the id at scale. A hint is
    // admissible only when the subtree is bounded BELOW it by a
    // constant-k id cut (the `vec_id < NQueries` query-vector shape) —
    // recognized structurally, not by query name.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{
      EqualTo, LessThan, LessThanOrEqual, Literal, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{
      BROADCAST, Filter => LFilter, ResolvedHint}
    val perRowIds = Set("doc_id", "vec_id", "doc_a", "doc_b", "doc_small",
      "doc_big", "corpus_id", "vec_a", "vec_b", "query_id", "neighbor_id")
    def offenders(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }.filter { h =>
        // corpus tables are identified by their leaf schema (a relation
        // toString hides the parquet path): documents scans carry
        // doc_id, embeddings scans carry vec_id
        val scansCorpus = h.child.collectLeaves().exists(l =>
          l.output.exists(a => a.name == "doc_id" || a.name == "vec_id"))
        val perRowOut = h.child.output.exists(a => perRowIds(a.name.toLowerCase))
        // type coercion wraps literals (and sometimes the id) in Casts
        def strip(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : org.apache.spark.sql.catalyst.expressions.Expression = e match {
          case c: org.apache.spark.sql.catalyst.expressions.Cast => strip(c.child)
          case other => other
        }
        def idCut(l: org.apache.spark.sql.catalyst.expressions.Expression,
                  r: org.apache.spark.sql.catalyst.expressions.Expression)
            : Boolean = (strip(l), strip(r)) match {
          case (a: AttributeReference, _: Literal) => perRowIds(a.name.toLowerCase)
          case (_: Literal, a: AttributeReference) => perRowIds(a.name.toLowerCase)
          case _ => false
        }
        val boundedBelow = h.child.collect { case f: LFilter => f }.exists { f =>
          f.condition.exists {
            case LessThan(l, r) => idCut(l, r)
            case LessThanOrEqual(l, r) => idCut(l, r)
            case EqualTo(l, r) => idCut(l, r)
            case _ => false
          }
        }
        scansCorpus && perRowOut && !boundedBelow
      }.map(h => s"broadcast over [${h.child.output.map(_.name).mkString(", ")}]")
    // memoized pair lists hide their builders behind a checkpoint scan,
    // so the FRESH builders (Memo registry) are pinned alongside every
    // declared query
    val fresh = memoFresh
    val declared = SparkEntry.queries.keys.toSeq.sorted
      .map(name => name -> SparkEntry.queries(name)(spark, sf001))
    // calibrate the detector: a deliberately poisoned plan MUST flag
    // (and the NQueries-bounded query-vector shape must NOT)
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables.load(spark, sf001, "documents").select("doc_id", "source")
    val poisoned = docs.join(
      broadcast(docs.withColumnRenamed("source", "s2")), Seq("doc_id"))
    assert(offenders(poisoned).nonEmpty, "detector missed a forced broadcast")
    val boundedOk = docs.join(
      broadcast(docs.filter(col("doc_id") < 8).withColumnRenamed("source", "s2")),
      Seq("doc_id"))
    assert(offenders(boundedOk).isEmpty, "detector flagged a bounded id cut")
    val bad = (fresh.toSeq ++ declared).flatMap { case (name, df) =>
      offenders(df).map(o => s"$name: $o")
    }
    assert(bad.isEmpty, s"forced corpus broadcasts: ${bad.mkString("; ")}")
  }

  test("q40: the lag window is partitioned, never a global sort") {
    val plan = finalPlan("q40_user_deltas")
    val windowLine = plan.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(windowLine.contains("user_id"),
      s"LAG must partition by user_id:\n$windowLine")
  }

  test("q42: rollup plans as one Expand + hash aggregate, not 3 scans") {
    // AQE plans print final + initial sections; judge the final one only
    val plan = finalPlan("q42_revenue_rollup").split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains(" Expand ")) == 1,
      s"rollup must use a single Expand:\n$plan")
    assert(plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")) == 1,
      s"rollup must scan the fact exactly once:\n$plan")
  }

  test("q44: the salted join stays a hash join on (key, salt)") {
    val plan = finalPlan("q44_salted_hot_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"salted join degenerated to a product:\n$plan")
  }

  test("q257: the SemDeDup pair join is bucketed on (cid, shard)") {
    val plan = finalPlan("q257_semdedup_capped")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"capped SemDeDup pair join degenerated to a product:\n$plan")
    // the pairwise join must key on BOTH the cluster id and the
    // sub-shard — a cid-only equi key would re-open the hot-cluster
    // quadratic the cap exists to bound
    assert("Join \\[cid#\\d+L?, shard#\\d+L?\\]".r
      .findFirstIn(plan).isDefined,
      s"pair join is not keyed (cid, shard):\n$plan")
  }

  test("q35/q48: corpus explodes exactly twice (bench/vocab + corpus)") {
    // the one-pass left-join rewrites keep a single corpus-side subplan;
    // a regression to split hit/total (or tf-recompute) subplans shows
    // up as a third documents scan
    Seq("q35_decontamination", "q48_oov_rate").foreach { q =>
      val plan = finalPlan(q).split("== Initial Plan ==")(0)
      val scans = plan.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("documents"))
      assert(scans <= 2, s"$q must not scan documents a 3rd time:\n$plan")
    }
  }

  test("q11: shared_bands aggregates without an Expand plan") {
    val df = graft.ext.Dedup.minhashPairsFresh(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Expand"),
      s"count(1) must not plan a countDistinct Expand:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Spark's InjectRuntimeFilter: when one join side carries a
    // selective predicate, the other side's scan gets a
    // bloom_filter_might_contain probe built from it at runtime — rows
    // that can't join die at the scan instead of riding the shuffle. At
    // 100 TB this is the difference between shuffling the whole fact
    // table and shuffling the ~1% that survives. Fixtures sit under the
    // default 10MB/10GB size thresholds, so lower them for the pin.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.load(s2, sf001, "lineitem").select("l_orderkey", "l_extendedprice")
    val ord = Tables.load(s2, sf001, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"runtime filter not injected:\n$plan")
    assert(joined.count() > 0)
  }

  test("q94: the explicit bloom probe is might_contain, not a UDF") {
    // the pre-built filter rides the plan as a binary literal probed by
    // BloomFilterMightContain — codegen'd, visible to Catalyst; a Scala
    // UDF here would be an optimization barrier AND leave codegen
    val plan = finalPlan("q94_bloom_prefilter")
    assert(plan.contains("might_contain"),
      s"expected the native bloom probe in the plan:\n$plan")
    assert(!plan.toLowerCase.contains("udf"),
      s"bloom probe must not be a UDF:\n$plan")
  }

  test("q63: EXISTS plans as a broadcast semi-join") {
    val plan = finalPlan("q63_semi_join")
    assert(plan.contains("LeftSemi"), s"semi-join expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"fixture-sized build side should broadcast:\n$plan")
  }

  test("q65: the ntile/percent_rank window is partitioned by nation") {
    // an unpartitioned window funnels every customer through ONE task;
    // partitioning bounds window state to a nation's customer list
    val plan = finalPlan("q65_spend_quartiles")
    val windowLine = plan.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(windowLine.contains("nation_id"),
      s"quartile window must partition by nation_id:\n$windowLine")
  }

  test("q66: cube plans as one Expand + hash aggregate over one scan") {
    val plan = finalPlan("q66_event_cube").split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains(" Expand ")) == 1,
      s"cube must use a single Expand:\n$plan")
    assert(plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events")) == 1,
      s"cube must scan events exactly once:\n$plan")
  }

  test("q64: intersect/except plan as hash semi/anti joins, one orders scan family") {
    val plan = finalPlan("q64_retention_sets")
    assert(plan.contains("LeftSemi"), s"INTERSECT must plan LeftSemi:\n$plan")
    assert(plan.contains("LeftAnti"), s"EXCEPT must plan LeftAnti:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"set ops degenerated to a product:\n$plan")
  }

  test("q181: the selectivity filter pushes into the ORC scan") {
    // ORC stripes carry min/max stats like parquet row groups; a filter
    // that stays above the scan reads every stripe at 100 TB
    val plan = finalPlan("q181_orc_roundtrip")
    val scanLine = plan.linesIterator.find(_.contains("FileScan orc"))
      .getOrElse("")
    assert(scanLine.nonEmpty, s"expected a native ORC scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,200)"),
      s"n_chars filter must reach the ORC scan:\n$plan")
  }

  test("column pruning: q01 scans only the columns it needs") {
    val plan = finalPlan("q01_revenue_by_category")
    // lineitem is 16 columns; the scan must read just the join key + money
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).getOrElse("")
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_shipmode"),
      s"unused wide columns must be pruned from the scan:\n$scanLine")
  }

  test("q201: the full-scan report is a partial+final aggregate pair") {
    // TPC-H Q1 is THE map-side-combine probe: one scan, partial
    // HashAggregate per partition, one 6-group exchange, final agg.
    // If the partial stage disappears, every lineitem row crosses the
    // shuffle at 100 TB.
    val plan = finalPlan("q201_pricing_summary")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$plan")
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).getOrElse("")
    assert(!scanLine.contains("l_orderkey") && !scanLine.contains("l_partkey"),
      s"q201 must prune the join keys it never uses:\n$scanLine")
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(l_shipdate"),
      s"the shipdate cut must reach the scan:\n$plan")
  }

  test("q204/q208: the fact rollup happens below the customer join") {
    // Q10/Q18 shape invariant: the per-customer / per-order aggregate
    // collapses lineitem BEFORE any dim join, so the joins see
    // aggregate-sized inputs. If an agg floats above the customer
    // join, the join carries fact-scale rows at 100 TB.
    Seq("q204_returned_items", "q208_volume_customers").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      val plan = df.queryExecution.sparkPlan
      import org.apache.spark.sql.execution.aggregate.{
        HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
      import org.apache.spark.sql.execution.joins.{
        BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      def isJoin(p: org.apache.spark.sql.execution.SparkPlan) = p match {
        case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec |
            _: SortMergeJoinExec => true
        case _ => false
      }
      val custJoins = plan.collect {
        case j if isJoin(j) &&
            j.output.exists(_.name.startsWith("c_")) => j
      }
      assert(custJoins.nonEmpty, s"$q: expected a customer join")
      // every join producing customer columns must already have an
      // aggregate somewhere beneath it (the fact rollup)
      custJoins.foreach { j =>
        val hasAggBelow = j.children.exists(_.find {
          case _: HashAggregateExec | _: ObjectHashAggregateExec |
              _: SortAggregateExec => true
          case _ => false
        }.isDefined)
        assert(hasAggBelow,
          s"$q: customer join must sit above the fact rollup:\n$plan")
      }
    }
  }

  test("q206: the scalar max anchor is a broadcast, never a window") {
    // Q15's textbook form (MAX OVER ()) would be an unpartitioned
    // window over the supplier rollup; the implementation must keep
    // the 1-row aggregate + broadcast shape instead.
    val df = SparkEntry.queries("q206_quarter_top_supplier")(spark, sf001)
    val plan = df.queryExecution.sparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "q206 must not plan any window")
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
      plan.toString.contains("BroadcastHashJoin"),
      s"expected the broadcast scalar anchor:\n$plan")
  }
}
