package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, StringType}

import graft.pipeline.{MatchBlocking, MatchPipeline}

/**
 * Streaming form of the flagship match pipeline — the engine's equivalent
 * of the reference's always-on serving loop (`main.py:136-221` accepts an
 * upload per request): a file-source stream of username batches is matched
 * against ONE roster, writing one ranked-match output per batch.
 *
 * Design notes for the serving shape:
 *  - PREPARED ONCE: the exact path's roster side
 *    ([[MatchPipeline.PreparedRoster]] — normalized employees with their
 *    hoisted invariants, the distinct-name invariant table and the top-k
 *    fan-out rows) is built and stored before the first micro-batch and
 *    reused by every later micro-batch and every later call on the same
 *    roster, so a batch scores against stored frames instead of
 *    re-reading, re-hoisting and re-deduplicating the roster. Each batch
 *    still broadcasts the stored frames (Spark cannot reuse a broadcast
 *    across queries), and shuffles only its own usernames — latency scales
 *    with the request batch, never the corpus of past requests.
 *  - REUSE KEY: the roster DataFrame's analyzed plan (`sameResult`) and
 *    its session, so a caller that rebuilds an equal roster DataFrame for
 *    every call (same files, same options) still reuses the stored one.
 *  - SNAPSHOT SEMANTICS: the roster is read ONCE per plan. Files changed
 *    under the same path behind an unchanged plan are NOT re-read: serve
 *    them through a roster whose plan differs (another path, another
 *    option), or call [[releaseRoster]] first. (Without the stored roster
 *    a roster DataFrame is a snapshot too: its file listing is taken when
 *    it is built.)
 *  - LIFETIME AND MEMORY: the JVM holds at most ONE prepared roster. A
 *    call with a different roster retires the held one — its blocks are
 *    freed at once, or when the last concurrent call still reading it
 *    returns — and prepares its own. The frames are stored serialized
 *    ([[graft.util.Cp.ser]]) as checkpointed RDD blocks, outside the
 *    session's CacheManager, so no other query in the session plans
 *    differently because of them. On the 20 000-row wide bench roster they
 *    take ~13 MB serialized (10.6 MB of distinct-name invariants, 2.5 MB of
 *    fan-out rows); each micro-batch's broadcast of them is ~45 MB.
 *  - FIRST-REQUEST COST: the call that prepares the roster pays the
 *    preparation (normalize, invariants, distinct, fan-out window, a few
 *    jobs: 1.0-1.4 s on the wide roster on 4 cores in a warm JVM, ~5 s in
 *    a cold one) before its stream starts; later calls pay none.
 *    [[matchStreaming]] returns how many preparations it ran.
 *  - A username's verdict depends ONLY on (username, roster): micro-batch
 *    boundaries cannot change results, and the union of per-batch outputs
 *    equals one batch-mode run over all input (pinned in MatchServingSpec).
 *  - IDEMPOTENT OUTPUT under at-least-once replay: per-batch hive-style
 *    `batch_id=<id>` partition directories with overwrite, the same
 *    exactly-once-by-idempotence recipe as [[CorpusIngest]]. SAME-CONFIG
 *    REQUIREMENT (shared with CorpusIngest): overwrite-by-batch_id only
 *    absorbs a replay that reproduces the batch-to-file assignment — same
 *    source file set, listing order, and `maxFilesPerTrigger`. A
 *    fresh-checkpoint replay with a different `maxFilesPerTrigger`, or
 *    over a shrunk source dir, produces a different batch partitioning and
 *    can leave STALE `batch_id=` dirs from the earlier run mixed into
 *    `outDir`; when changing the trigger config or re-serving a pruned
 *    source, point at a clean `outDir` (or delete it) instead of relying
 *    on overwrite.
 *  - `matchOutput` deduplicates usernames per batch; duplicates ACROSS
 *    batches re-serve (same answer) by design — it is a serving loop, not
 *    an ingest: each request deserves its response.
 *  - LATENCY per micro-batch = broadcasts of the two stored roster frames,
 *    one broadcast-NLJ scoring pass over |batch| x |distinct names| and one
 *    username-partitioned top-k aggregate: ~0.9 s for a 10-username
 *    request against the 20 000-row wide roster on 4 cores.
 *    `maxFilesPerTrigger` trades latency for throughput: 1 = lowest
 *    per-request latency, higher values amortize fixed per-batch planning
 *    cost across request files (results are invariant either way —
 *    micro-batch boundaries cannot change a verdict).
 */
object MatchServing {

  /** The username-batch source schema (CSV-shaped: one string column). */
  val UsernameSchema: StructType =
    StructType(Seq(StructField("username", StringType, nullable = true)))

  /** Reader-side contract for the served output: partition discovery over
    * the `batch_id=<id>` dirs yields the match columns plus a `batch_id`
    * pinned to LONG (raw discovery would infer INT for small ids and
    * silently widen once ids pass 2^31 — readers get one stable type). */
  def readServed(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(outDir).withColumn("batch_id", col("batch_id").cast("long"))
  }

  /** The prepared roster this JVM holds for reuse, keyed on its session and
    * its roster's analyzed plan. */
  private final class Held(val session: SparkSession, val plan: LogicalPlan,
                           val roster: MatchPipeline.PreparedRoster) {
    var users = 0        // matchStreaming calls currently reading `roster`
    var retired = false  // replaced: its blocks go when the last user leaves
  }

  private var held: Option[Held] = None  // guarded by `this`

  /** Takes the held roster for `employees`, first preparing and storing it
    * when the held one is for another roster or session (which is retired
    * then); the count is 1 when this call prepared it, else 0. Preparing
    * under the lock makes concurrent calls on a new roster wait for one
    * preparation instead of each running their own. */
  private def acquire(employees: DataFrame): (Held, Long) = synchronized {
    val plan = employees.queryExecution.analyzed
    held.filter(h => (h.session eq employees.sparkSession) && h.plan.sameResult(plan)) match {
      case Some(h) =>
        h.users += 1
        (h, 0L)
      case None =>
        held.foreach(retire)
        held = None
        val h = new Held(employees.sparkSession, plan,
          MatchPipeline.prepareRoster(employees, Some(MatchPipeline.TopK)).stored())
        h.users += 1
        held = Some(h)
        (h, 1L)
    }
  }

  private def leave(h: Held): Unit = synchronized {
    h.users -= 1
    if (h.retired && h.users == 0) free(h)
  }

  // callers hold the lock
  private def retire(h: Held): Unit = {
    h.retired = true
    if (h.users == 0) free(h)
  }

  // a stopped session already dropped every block it held
  private def free(h: Held): Unit =
    if (!h.session.sparkContext.isStopped) h.roster.release()

  /** Releases the held prepared roster, if no call is reading it, else when
    * the last reader returns. The next exact [[matchStreaming]] call
    * prepares its roster afresh — the way to pick up a roster whose source
    * files changed under an unchanged plan. */
  def releaseRoster(): Unit = synchronized {
    held.foreach(retire)
    held = None
  }

  /**
   * Serves every username file under `sourceDir` not yet recorded in
   * `checkpointDir` (an `AvailableNow` run) and returns how many roster
   * preparations this call ran: 1 when it prepared `employees`, 0 when it
   * reused the held prepared roster (and on the blocked path, which keeps
   * no prepared roster).
   *
   * @param blocked route each micro-batch through
   *   [[MatchBlocking.matchOutput]] (key-blocked candidate generation —
   *   the scale plan for big rosters, where the broadcast-NLJ cross
   *   product is the cost) instead of the exact
   *   [[MatchPipeline.matchOutput]]. Same output contract either way;
   *   per-batch results equal the same-mode batch run (spec-pinned).
   *   NOTE (MatchBlocking scaladoc): the blocked path localCheckpoints
   *   its roster key table and candidate pairs PER CALL, i.e. per
   *   micro-batch here — blocks are bounded and GC-reclaimed, but a
   *   memory-tight long-lived serving driver should prefer larger
   *   `maxFilesPerTrigger` batches to amortize them.
   */
  def matchStreaming(spark: SparkSession, sourceDir: String,
                     employees: DataFrame, outDir: String,
                     checkpointDir: String,
                     maxFilesPerTrigger: Int = 1,
                     blocked: Boolean = false): Long = {
    val acquired = if (blocked) None else Some(acquire(employees))
    try {
      val matchBatch: DataFrame => DataFrame = acquired match {
        case None => MatchBlocking.matchOutput(_, employees)
        case Some((h, _)) => MatchPipeline.matchOutputOf(_, h.roster,
          MatchPipeline.TopK, MatchPipeline.ScoreThreshold)
      }
      val stream = spark.readStream.schema(UsernameSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          matchBatch(batch)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally acquired.foreach { case (h, _) => leave(h) }
    acquired.fold(0L)(_._2)
  }
}
