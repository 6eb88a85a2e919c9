package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.scoring.MatchScore
import graft.util.Cp

/**
 * The end-to-end username->employee match pipeline — the engine's flagship
 * query, re-expressing the reference's POST-/ pipeline
 * (/root/reference/main.py:136-221) as one declarative Spark plan:
 *
 *   usernames ⟕ [similarity cross join] broadcast(employees)
 *     -> score (MatchScore expression tree)
 *     -> per-username top-k (row_number window, k=4) with threshold >= 50
 *     -> dense-rank confidence labels (ties share a rank — golden semantics
 *        pinned by the reference's assets/example.png)
 *     -> NOT-FOUND sentinels derived from the rn=1 row in the same pass
 *
 * Scale design (100 TB usernames, roster-sized employees):
 *  - the employee side is hoisted+broadcast, so the cross join is a
 *    BroadcastNestedLoopJoin with NO shuffle of the big side;
 *  - per-username and per-employee invariants (phonetic codes, splits) are
 *    computed O(U)+O(E) times before the join, not O(U*E) times inside it;
 *  - the only shuffle is the hash-partition on `username` for the window;
 *    both windows (top-k and dense_rank) share one partitioning, and
 *    Spark's WindowGroupLimit pushes the rank<=k limit below the shuffle,
 *    so each map task emits at most k rows per username before exchange.
 *  - deterministic tiebreak (score desc, emp_id asc) — the reference's
 *    pandas unstable sort makes ties unspecified (SURVEY.md §7.4.1).
 */
object MatchPipeline {

  val TopK = 4               // NUM_TOP_GROUP_MATCHES + NUM_ADDITIONAL (main.py:19-21)
  val ScoreThreshold = 50.0  // main.py:22

  /** Dense-rank -> confidence label decode (main.py:181-186). */
  def rankLabel(r: Column): Column =
    when(r === 1, "HIGH CONFIDENCE")
      .when(r === 2, "2nd HIGH CONFIDENCE")
      .when(r === 3, "3rd HIGH CONFIDENCE")
      .when(r === 4, "NOT SURE")
      .otherwise("")   // dict.get default, main.py:196

  /** Usernames with hoisted scoring invariants. */
  def prepareUsernames(usernames: DataFrame): DataFrame =
    MatchScore.usernameInvariants(col("username")).foldLeft(
      usernames.select(col("username").cast("string").as("username"))
    ) { case (df, (name, c)) => df.withColumn(name, c) }

  /** Canonical employees with hoisted scoring invariants. */
  def prepareEmployees(employees: DataFrame): DataFrame =
    MatchScore.employeeInvariants(col("first_name"), col("last_name"), col("employee_name"))
      .foldLeft(employees) { case (df, (name, c)) => df.withColumn(name, c) }

  /** The exact path's roster side: every frame the scoring joins read from
    * the roster, and nothing that depends on a username.
    *  - `names`: the DISTINCT (first, last, full) name tuples with their
    *    hoisted scoring invariants (`n_*` columns) — the broadcast build
    *    side of the scoring cross join;
    *  - `fanout`: the [[prepareEmployees]] rows the scored name tuples fan
    *    back out to, capped at `fanoutTopK` rows per tuple for top-k
    *    consumers (`None` keeps every row);
    *  - `probe`: a frame that is empty exactly when the roster is — the
    *    empty-roster sentinel branch of [[matchOutput]] reads one row of it.
    * [[prepareRoster]] builds them lazily, so a batch plan still reads the
    * roster through its own lineage and plans exactly as one inline query
    * would; [[stored]] materializes them once for callers that score many
    * username batches against one roster ([[graft.streaming.MatchServing]]). */
  final class PreparedRoster private[pipeline] (
      val names: DataFrame, val fanout: DataFrame, val probe: DataFrame,
      val fanoutTopK: Option[Int], blocks: Seq[RDD[_]]) {
    /** This roster with `names` and `fanout` materialized by [[Cp.ser]]:
      * eager, serialized, and held as checkpointed RDD blocks rather than in
      * the session's CacheManager, so no other query's plan can pick them
      * up. `fanout` keeps only the columns the top-k output reads. The
      * probe's answer is fixed once stored, so it becomes a local 0/1-row
      * frame: a batch's sentinel branch then scans a constant instead of
      * the stored rows (one job fewer per serving batch, measured on the
      * wide bench roster; an empty probe removes that branch's join). The
      * blocks stay until [[release]]. */
    def stored(): PreparedRoster = {
      val n = Cp.ser(names)
      val f = Cp.ser(fanout.select("e_first", "e_last", "e_full", "emp_id", "employee_name"))
      val rdds = Seq(n, f).map(_.queryExecution.logical).collect { case r: LogicalRDD => r.rdd }
      val p = f.sparkSession.createDataFrame(
        java.util.Collections.nCopies(if (f.isEmpty) 0 else 1, Row(1)),
        StructType(Seq(StructField("one", IntegerType))))
      new PreparedRoster(n, f, p, fanoutTopK, rdds)
    }

    /** Frees the blocks of a [[stored]] roster (a no-op on a lazy one); the
      * stored frames must not be read afterwards. */
    def release(): Unit = blocks.foreach(_.unpersist(blocking = false))
  }

  /** Builds the exact path's roster side lazily — see [[PreparedRoster]]. */
  def prepareRoster(employees: DataFrame, fanoutTopK: Option[Int]): PreparedRoster = {
    val e = prepareEmployees(employees)
    // DISTINCT-NAME MEMOIZATION (r20, guide §1.2 "the distributed
    // algorithm"): the score is a pure function of (username, e_first,
    // e_last, e_full) — emp_id never enters it — so the expensive kernels
    // run once per (username, DISTINCT name tuple) and a broadcast hash
    // join fans the scored rows back out to that name's employees. On the
    // bench's 64-name/20k-employee roster this is ~300x fewer kernel
    // evaluations (measured nm_match_topk 30.8 -> see OPTIMIZATION_r20.md);
    // on a high-cardinality roster (distinct ~ |E|) the overhead is one
    // roster-sized distinct plus one extra broadcast probe per pair — noise
    // next to the kernels. Scale shape is unchanged: the username side
    // still crosses ONE BroadcastNestedLoopJoin and one BroadcastHashJoin,
    // never an exchange; both broadcast builds are roster-bounded.
    // n_* aliases keep the distinct side's attribute ids disjoint from
    // `e`'s, so the fan-out join is not an ambiguous self join.
    val eKeys = e.select(col("e_first").as("n_first"), col("e_last").as("n_last"),
      col("e_full").as("n_full")).distinct()
    // invariants recomputed on the distinct tuples: lower/trim are
    // idempotent, so codes from the re-normalized strings are identical
    val eNames = MatchScore.employeeInvariants(
        col("n_first"), col("n_last"), col("n_full"))
      .foldLeft(eKeys) { case (df, (name, c)) =>
        df.withColumn(name.replaceFirst("^e_", "n_"), c) }
    // FAN-OUT PRUNE (r20, top-k callers only): every employee of a name
    // tuple shares that tuple's score, so within one username's
    // (score desc, emp_id asc, employee_name asc) total order the k-th
    // best row OF A TUPLE is preceded by k-1 same-score rows of that same
    // tuple — an employee ranked > k inside its tuple can therefore never
    // reach any username's global top-k. Keeping only each tuple's k
    // smallest (emp_id, employee_name) rows is EXACT for top-k
    // consumption and shrinks the window input from U*E rows to at most
    // U*D*k (the bench's 64-name roster: 4.16M -> 53k rows). The window
    // runs on the broadcast-small roster once, NOT per pair. Duplicate
    // (emp_id, employee_name) rows within a tuple are interchangeable in
    // every column the top-k output can reference, so row_number's
    // arbitrary order among them cannot change the result.
    val eFan = fanoutTopK match {
      case None => e
      case Some(k) =>
        val byName = Window.partitionBy(col("e_first"), col("e_last"), col("e_full"))
          .orderBy(col("emp_id").asc, col("employee_name").asc)
        e.withColumn("__fan_rk", row_number().over(byName))
          .filter(col("__fan_rk") <= k)
          .drop("__fan_rk")
    }
    // the probe reads `e`, not `eFan`: a limit over `e` column-prunes to
    // the raw roster scan, while one over `eFan` would keep its window
    new PreparedRoster(eNames, eFan, e, fanoutTopK, Nil)
  }

  /** Scored candidate pairs: every (username, employee) with its score.
    *
    * The cross join is COMPUTE-bound, not IO-bound: each stream row fans out
    * into |roster| kernel evaluations, so task parallelism — not data volume
    * — decides wall clock. An explicit `repartition` on the stream side pins
    * fine compute slices across cores: without it, AQE sees a few KB of
    * shuffled usernames and coalesces the exchange down to one partition,
    * serializing the entire O(U*E) scoring loop onto one thread (measured
    * 48s -> ~2s at sf0.1 on local[32]). The shuffled rows are tiny (bare
    * username strings; invariants are derived after the exchange), so the
    * repartition costs nothing relative to the scoring it spreads — on a
    * SMALL input. A 100 TB username table arriving already spread over
    * thousands of scan/shuffle partitions needs no rebalancing, so the
    * exchange is SIZE-AWARE: it is skipped when the input's planned (pre-
    * AQE) partition count is already >= 2x defaultParallelism AND that
    * count cannot shrink under AQE (scan splits or an explicit
    * numPartitions repartition — shapes pinned in PlanShapeSpec). An
    * explicit numPartitions repartition is never AQE-coalesced, so the
    * small-input fix cannot regress. */
  def scoredPairs(usernames: DataFrame, employees: DataFrame): DataFrame =
    scoredPairsCapped(usernames, prepareRoster(employees, None))

  /** [[scoredPairs]] against a [[PreparedRoster]] — the private form
    * [[rankedTopK]] consumes with a fan-out-capped roster. Builds only the
    * username side; every roster-side frame comes from `roster`. */
  private def scoredPairsCapped(usernames: DataFrame, roster: PreparedRoster): DataFrame = {
    val spark = usernames.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    // static planned partition count: queryExecution.sparkPlan is the
    // pre-adaptive physical plan, so reading it triggers no execution (the
    // adaptive plan's .rdd would run every upstream stage eagerly)
    val plannedPlan = usernames.queryExecution.sparkPlan
    val planned = plannedPlan.outputPartitioning.numPartitions
    // The skip is only trustworthy when `planned` cannot shrink under AQE
    // at runtime: scan-derived splits (no exchange supplies the count) or
    // an explicit numPartitions repartition (REPARTITION_BY_NUM — never
    // AQE-coalesced). An optimizer-inserted or column-only exchange plans
    // at the static spark.sql.shuffle.partitions default and CAN coalesce
    // to one task on a small input — serializing the whole O(U x E)
    // scoring stage under a vanilla 200-partition session — so those force
    // the explicit repartition whatever count they print. Inspecting the
    // exchange's shuffleOrigin (not comparing counts, the r12 form) means
    // a genuinely data-driven input whose count happens to EQUAL the conf
    // value is no longer force-shuffled — at 100 TB that was a full extra
    // exchange of the big side.
    val aqeCollapsible = {
      import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
      plannedPlan.collectFirst { case e: ShuffleExchangeExec => e }
        .exists(_.shuffleOrigin != REPARTITION_BY_NUM)
    }
    // 4 waves of fine-grained tasks: with one task per core a single
    // straggler (GC pause, CPU steal) stretches the whole stage; finer
    // slices rebalance.
    val stream =
      if (planned >= 2 * parallelism && !aqeCollapsible) usernames
      else usernames.repartition(4 * parallelism)
    val u = prepareUsernames(stream)
    val scoredNames = u.crossJoin(broadcast(roster.names))
      .withColumn("score",
        MatchScore.scoreFromInvariants(
          col("u_norm"), col("u_part1"), col("u_part2"), col("u_sdx"), col("u_mp"),
          col("u_initial"), col("u_dot2_initial"),
          col("n_first"), col("n_last"), col("n_full"),
          col("n_sdx_first"), col("n_sdx_last"), col("n_mp_first"), col("n_mp_last"),
          col("n_first_initial"), col("n_patterns"),
          fToks = col("n_first_toks"), lToks = col("n_last_toks"),
          enToks = col("n_full_toks")))
      .select(col("username"), col("u_norm"), col("u_part1"), col("u_part2"),
        col("u_sdx"), col("u_mp"), col("u_initial"), col("u_dot2_initial"),
        col("n_first"), col("n_last"), col("n_full"), col("score"))
    // fan back out: null-safe keys so a null-named employee keeps pairing
    // with every username (score 0 via null propagation), exactly as the
    // direct cross join did
    scoredNames.join(broadcast(roster.fanout),
        col("n_first") <=> col("e_first") && col("n_last") <=> col("e_last") &&
          col("n_full") <=> col("e_full"))
      .drop("n_first", "n_last", "n_full")
  }

  /** Top-k rows per username (NO threshold), dense-rank labeled. Keeping the
    * sub-threshold rows lets [[matchOutput]] derive NOT-FOUND sentinels from
    * the rn=1 row in the same pass instead of re-running the scored cross
    * join for an anti join (which doubled the pipeline's cost — Spark does
    * not de-duplicate a common subplan across union/join branches).
    * Sub-threshold rows sort after qualifying ones, so their presence cannot
    * change a qualifying row's dense rank. */
  private def rankedTopK(usernames: DataFrame, roster: PreparedRoster, topK: Int): DataFrame = {
    require(roster.fanoutTopK.forall(_ >= topK),
      s"roster fan-out capped at ${roster.fanoutTopK.get} rows per name, below topK = $topK")
    rankedTopKOf(scoredPairsCapped(usernames, roster), topK)
  }

  /** Per-username top-k of a scored (username, emp_id, employee_name,
    * score) frame via the bounded-heap aggregate [[graft.functions.topk_match]]
    * (r21, guide §1.2 "the distributed algorithm"): the former
    * Sort + WindowGroupLimit + row_number window sorted the ENTIRE scored
    * stream per task (2.5M wide-ish rows on the wide bench leg, ~24% of
    * that query's CPU in sort comparators / row copies) only to keep 4
    * rows per username. The heap aggregate keeps the k first rows of the
    * IDENTICAL total order (score DESC, emp_id ASC, employee_name ASC —
    * employee_name is the final tiebreak because the reference roster
    * reuses EMP_IDs, FIXTURES.md) at one double-compare per rejected row,
    * with partial aggregation bounding the exchange at O(usernames x k)
    * exactly like WindowGroupLimit did. Multiset equivalence is pinned by
    * MatchTopKAggSpec; `rn` is the position in the aggregate's
    * window-order output, so rn/rank/match_type decode unchanged.
    *
    * dense_rank still orders by score ONLY: equal scores share a
    * rank/label (golden tie semantics from assets/example.png). The rank
    * window runs over <= k rows per username on the aggregate's own
    * username partitioning — no additional exchange. */
  private[pipeline] def rankedTopKOf(scored: DataFrame, topK: Int): DataFrame = {
    val byUserScore = Window.partitionBy(col("username")).orderBy(col("score").desc)
    scored
      .groupBy(col("username"))
      .agg(graft.functions.topk_match(
        col("score"), col("emp_id"), col("employee_name"), topK).as("__tk"))
      .select(col("username"), posexplode(col("__tk")).as(Seq("__pos", "__m")))
      .select(col("username"),
        col("__m.emp_id").as("emp_id"),
        col("__m.employee_name").as("employee_name"),
        col("__m.score").as("score"),
        (col("__pos") + 1).cast("int").as("rn"))
      .withColumn("rank", dense_rank().over(byUserScore))
      .withColumn("match_type", rankLabel(col("rank")))
  }

  /** Top-k >= threshold matches per username, dense-rank labeled. */
  def rankedMatches(usernames: DataFrame, employees: DataFrame,
                    topK: Int = TopK, threshold: Double = ScoreThreshold): DataFrame =
    rankedTopK(usernames, prepareRoster(employees, Some(topK)), topK)
      .filter(col("score") >= threshold)

  /**
   * Full output contract of the reference (username, emp_id, emp_name,
   * confidence_score, match_type), including USER NOT FOUND sentinel rows.
   * Blank separator rows (main.py:209) are a CSV-presentation concern and are
   * added only by [[writeCsv]].
   *
   * Duplicate-input semantics (PINNED, documented divergence): input
   * usernames are `distinct()`-ed at entry, so a username appearing N times
   * yields ONE result group. The reference iterates input rows
   * (main.py:158), emitting N identical groups for N identical rows; under
   * a window partitioned by username VALUE those rows would instead merge
   * into one partition with each candidate duplicated N times — silently
   * corrupting top-k membership. Deduping preserves the per-group content
   * exactly and keeps the window semantics well-defined; callers wanting
   * the reference's repeated groups can re-join the output against their
   * raw input. Pinned by MatchPipelineSpec ("duplicate usernames").
   */
  def matchOutput(usernames: DataFrame, employees: DataFrame,
                  topK: Int = TopK, threshold: Double = ScoreThreshold): DataFrame =
    matchOutputOf(usernames, prepareRoster(employees, Some(topK)), topK, threshold)

  /** [[matchOutput]] scored against an already prepared roster, whose
    * fan-out cap must be at least `topK`. */
  def matchOutputOf(usernames: DataFrame, roster: PreparedRoster,
                    topK: Int, threshold: Double): DataFrame = {
    val users = usernames
      .select(col("username").cast("string").as("username")).distinct()
    // Single pass over the scored top-k: a username whose BEST candidate
    // (rn=1) is below threshold has no qualifying match at all, so its rn=1
    // row becomes the USER NOT FOUND sentinel in the same projection.
    val qualifies = col("score") >= threshold
    val fromPairs = rankedTopK(users, roster, topK)
      .filter(qualifies || col("rn") === 1)
      .select(
        col("username"),
        when(qualifies, col("emp_id")).otherwise("N/A").as("emp_id"),
        when(qualifies, col("employee_name")).otherwise("USER NOT FOUND").as("emp_name"),
        when(qualifies, format_string("%.2f%%", col("score"))).otherwise("0.00%").as("confidence_score"),
        when(qualifies, col("match_type")).otherwise("USER NOT FOUND").as("match_type"))
    // Empty-roster edge: the cross join then emits NOTHING, so every
    // username needs a sentinel. The anti-join probe is against the
    // prepared roster's probe .limit(1) — O(1), never the scored pairs.
    val emptyRosterSentinels = users
      .join(broadcast(roster.probe.limit(1).select(lit(1).as("__probe"))),
        lit(true), "left_anti")
      .select(
        col("username"),
        lit("N/A").as("emp_id"),
        lit("USER NOT FOUND").as("emp_name"),
        lit("0.00%").as("confidence_score"),
        lit("USER NOT FOUND").as("match_type"))
    fromPairs.unionByName(emptyRosterSentinels)
  }

  /** Name-pile-up factor above which the EXACT broadcast-NLJ path beats
    * candidate blocking: [[graft.pipeline.MatchBlocking]]'s cardinality
    * analysis (its scaladoc "When blocking pays off") — when thousands of
    * employees share each distinct name, most blocking keys collide, the
    * candidate set approaches the full cross product, and the blocked
    * path pays its key-explode shuffles on top. Measured on the pinned
    * bench pair: the 64-name roster at sf0.1 (pile-up ~312) runs exact
    * 2.2x cheaper than blocked, while the wide ~20k-name roster (pile-up
    * ~1) runs blocked 2.5x cheaper than exact. 16 sits in the decade of
    * slack between the two regimes (3.2 vs 31 on the narrow fixture's
    * smallest/middle scales). */
  val ExactWinsPileupFactor = 16.0

  /** The [[auto]] decision, exposed for specs and for SQL replay: average
    * employees per distinct (first, last) name — one driver aggregate
    * over the roster, which is broadcast-small by the pipeline's own
    * contract (the same assumption the exact path's broadcast makes). */
  def pileupFactor(employees: DataFrame): Double = {
    val r = employees.agg(
      count(lit(1)).as("n"),
      countDistinct(concat_ws(" ",
        lower(col("first_name")), lower(col("last_name")))).as("d")).head()
    r.getLong(0).toDouble / math.max(1L, r.getLong(1))
  }

  /** AUTO path selection: the exact broadcast-NLJ [[matchOutput]] when the
    * roster's name pile-up says blocking keys would collide into a near
    * cross product, [[MatchBlocking.matchOutput]] (the 100 TB candidate
    * path) on high-cardinality rosters. Same output contract either way;
    * the blocked branch is approximate by its documented nature (~94%
    * pair recall on the reference workload), which is exactly why the
    * choice is a DOCUMENTED stat threshold rather than a silent cost
    * model: the crossover is pinned by MatchPipelineSpec on both bench
    * fixtures and replayed by the nm_match_topk_auto oracle. */
  def auto(usernames: DataFrame, employees: DataFrame,
           topK: Int = TopK, threshold: Double = ScoreThreshold): DataFrame =
    if (pileupFactor(employees) >= ExactWinsPileupFactor)
      matchOutput(usernames, employees, topK, threshold)
    else
      MatchBlocking.matchOutput(usernames, employees, topK, threshold)

  /** CSV sink. With `separators = true`, reproduces the reference's blank
    * row between username groups (main.py:209-221) by unioning one all-empty
    * row per username, sort-keyed to land after its group — presentation
    * only, so it stays out of the relational [[matchOutput]] result.
    *
    * Ordering is (username, NUMERIC score desc, emp_id) — the formatted
    * percent string sorts lexicographically ('9.00%' > '59.80%'), so the
    * sort key re-parses it to a double, matching the reference's
    * score-descending group order. `singleFile = true` funnels the write
    * through one task (the reference's one-CSV HTTP contract); the default
    * keeps the distributed multi-part write — a global orderBy range-
    * partitions the output, so the part files' DATA rows concatenate in
    * sorted order. Note `header = true` writes a header line into EVERY
    * part file, so consumers concatenating parts must strip the repeated
    * headers (or pass `singleFile = true` for one header total). */
  def writeCsv(out: DataFrame, path: String, separators: Boolean = false,
               singleFile: Boolean = false): Unit = {
    val scoreNum = regexp_replace(col("confidence_score"), "%", "").cast("double")
    val rows =
      if (!separators) out.orderBy(col("username"), scoreNum.desc, col("emp_id"), col("emp_name"))
      else {
        // materialize the caller's pipeline ONCE: both union branches (data
        // + separator rows) otherwise each re-execute the full upstream
        // lineage — Spark does not de-duplicate a common subplan across
        // union branches (the measured rankedTopK lesson), so a
        // presentation-only blank row would double the flagship query
        val once = out.localCheckpoint()
        val data = once.withColumn("__grp", col("username")).withColumn("__sep", lit(0))
        val nul = lit(null).cast("string")
        val seps = once.select(col("username").as("__grp")).distinct()
          .select(
            nul.as("username"), nul.as("emp_id"), nul.as("emp_name"),
            nul.as("confidence_score"), nul.as("match_type"),
            col("__grp"), lit(1).as("__sep"))
        data.unionByName(seps)
          .orderBy(col("__grp"), col("__sep"), scoreNum.desc, col("emp_id"), col("emp_name"))
          .drop("__grp", "__sep")
      }
    val sink = if (singleFile) rows.coalesce(1) else rows
    sink.write.mode("overwrite").option("header", "true").csv(path)
  }
}
