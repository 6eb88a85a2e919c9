package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer
import graft.streaming.MatchServing

/** Streaming match serving == batch match: micro-batch boundaries must not
  * change any verdict (a username's answer depends only on the roster), and
  * restarts / replays must not duplicate output rows. */
class MatchServingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("streamed username batches' union equals one batch-mode matchOutput") {
    val employees = EmployeeNormalizer.normalize(
      spark.read.option("header", "true").csv(SparkTestBase.referenceCsv("employee.csv")))
    val usernames = spark.read.option("header", "true")
      .csv(SparkTestBase.referenceCsv("usernames.csv"))
      .select(col("Username").as("username"))

    val base = java.nio.file.Files.createTempDirectory("graft_serve").toString
    try {
      // several source files -> maxFilesPerTrigger=1 forces >1 micro-batch
      usernames.repartition(4).write.parquet(s"$base/src")
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt")

      val streamed = spark.read.parquet(s"$base/out")
      assert(streamed.select("batch_id").distinct().count() > 1,
        "expected multiple micro-batches")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
        .as[(String, String, String, String, String)].collect().sorted.toSeq
      val got = key(streamed)
      val want = key(MatchPipeline.matchOutput(usernames, employees))
      assert(got === want, "micro-batch boundaries changed match results")

      // restart on the same checkpoint: no new files -> no new output
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt")
      assert(key(spark.read.parquet(s"$base/out")) === want,
        "restart replayed already-served batches")

      // worst-case at-least-once replay (fresh checkpoint, same batch ids):
      // per-batch overwrite dirs absorb it — identical content, no dupes.
      // NOTE the scaladoc's same-config requirement: this only holds because
      // the source file set, listing order, and maxFilesPerTrigger are
      // unchanged; a different trigger config must use a clean outDir
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt2")
      assert(key(spark.read.parquet(s"$base/out")) === want,
        "full replay must overwrite, never duplicate")

      // reader contract: partition discovery + pinned LONG batch_id
      val served = MatchServing.readServed(spark, s"$base/out")
      assert(served.schema("batch_id").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(served.columns.toSet === Set("username", "emp_id", "emp_name",
        "confidence_score", "match_type", "batch_id"))

      // maxFilesPerTrigger > 1: fewer micro-batches, identical verdicts
      // (fresh out/ckpt dirs — a changed trigger config must not reuse them)
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out_mft2", s"$base/ckpt_mft2", maxFilesPerTrigger = 2)
      val mft2 = spark.read.parquet(s"$base/out_mft2")
      // fresh read: `streamed`'s file listing is stale after the replays
      val nBatches1 = spark.read.parquet(s"$base/out")
        .select("batch_id").distinct().count()
      assert(mft2.select("batch_id").distinct().count() < nBatches1,
        "maxFilesPerTrigger=2 should coalesce source files into fewer batches")
      assert(key(mft2) === want,
        "maxFilesPerTrigger must not change any verdict")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("blocked serving path: stream == batch, and blocked == unblocked on the fixture") {
    val employees = EmployeeNormalizer.normalize(
      spark.read.option("header", "true").csv(SparkTestBase.referenceCsv("employee.csv")))
    val usernames = spark.read.option("header", "true")
      .csv(SparkTestBase.referenceCsv("usernames.csv"))
      .select(col("Username").as("username"))

    val base = java.nio.file.Files.createTempDirectory("graft_serve_blk").toString
    try {
      usernames.repartition(4).write.parquet(s"$base/src")
      MatchServing.matchStreaming(spark, s"$base/src", employees,
        s"$base/out", s"$base/ckpt", blocked = true)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("username", "emp_id", "emp_name", "confidence_score", "match_type")
        .as[(String, String, String, String, String)].collect().sorted.toSeq

      val streamed = spark.read.parquet(s"$base/out")
      assert(streamed.select("batch_id").distinct().count() > 1,
        "expected multiple micro-batches")
      // stream == batch on the SAME mode: a username's blocked verdict
      // depends only on (username, roster) — candidate keys are row-local
      // and the roster-side frequency cap is probe-independent, so
      // micro-batch boundaries cannot change it
      val got = key(streamed)
      val wantBlocked = key(graft.pipeline.MatchBlocking.matchOutput(usernames, employees))
      assert(got === wantBlocked,
        "micro-batch boundaries changed blocked-path results")
      // blocked vs unblocked on the reference fixture: blocking is allowed
      // to miss purely-fuzzy matches (the MatchBlockingSpec contract), so
      // the serving parity pin is the SAME >= 90% recall floor plus exact
      // agreement on every (username, emp_id) pair both paths surface
      def found(rows: Seq[(String, String, String, String, String)]) =
        rows.filter(_._5 != "USER NOT FOUND").map(r => (r._1, r._2)).toSet
      val wantExact = key(MatchPipeline.matchOutput(usernames, employees))
      val recall = found(got).intersect(found(wantExact)).size.toDouble /
        found(wantExact).size
      info(f"blocked serving recall vs exact: $recall%.4f")
      assert(recall >= 0.90, f"recall $recall%.4f below 0.90")
      // scores are candidate-set independent and must agree bit-for-bit;
      // the rank LABEL may legitimately differ (dense_rank runs over the
      // surviving candidates, so a dropped higher-ranked fuzzy candidate
      // shifts labels below it)
      val exactByPair = wantExact.map(r => (r._1, r._2) -> r).toMap
      got.filter(r => exactByPair.contains((r._1, r._2))).foreach { r =>
        val e = exactByPair((r._1, r._2))
        assert((r._3, r._4) === ((e._3, e._4)),
          s"blocked serving name/score differs on a pair both paths found: $r vs $e")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  // ---- the prepared roster: reused across calls, keyed on the roster's plan

  /** An inline roster with non-ASCII names, a blank row, and five
    * employees sharing one name: `ravi.kumar` scores 100 against all five,
    * so its top-4 cut falls inside a score tie. */
  private def rosterA() = EmployeeNormalizer.normalize(Seq(
    ("1", "José", "García"), ("2", "Zoë", "Ångström"), ("3", "", ""),
    ("4", "Ravi", "Kumar"), ("5", "Ravi", "Kumar"), ("6", "Ravi", "Kumar"),
    ("7", "李", "伟"), ("8", "Anil", "Jain"), ("9", "Amit", "Jain"),
    ("10", "Ravi", "Kumar"), ("11", "Ravi", "Kumar"), ("12", "Priya", "Das")
  ).toDF("EMP_ID", "First_Name", "Last_Name"))

  /** Another roster: no Ravi Kumar, so `ravi.kumar` must answer differently. */
  private def rosterB() = EmployeeNormalizer.normalize(Seq(
    ("21", "Ravi", "Shankar"), ("22", "Kumar", "Sanu"), ("23", "Zoe", "Angstrom"),
    ("24", "Anil", "Jain"), ("25", "", "")
  ).toDF("EMP_ID", "First_Name", "Last_Name"))

  private val requests = Seq(
    Seq(Some("ravi.kumar"), Some("josé.garcía"), Some(""), None, Some("李伟")),
    Seq(Some("zoe_angstrom"), Some("anil_jain"), Some("nobody_xyz"), Some("ravi.kumar")))

  /** Null-safe, order-free view of a match output. */
  private def lines(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("username", "emp_id", "emp_name", "confidence_score", "match_type")
      .collect().map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|"))
      .sorted.toSeq

  private def stored(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def withDir[T](prefix: String)(body: String => T): T = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    try body(base) finally rm(new java.io.File(base))
  }

  test("prepared roster: prepared once, reused across calls and rebuilt equal rosters, re-prepared on a new roster") {
    MatchServing.releaseRoster()
    withDir("graft_serve_prep") { base =>
      requests.zipWithIndex.foreach { case (r, i) =>
        r.toDF("username").repartition(2).write.parquet(s"$base/src$i")
      }
      def users(i: Int) = spark.read.parquet(s"$base/src$i")
      def serve(tag: String, i: Int, roster: org.apache.spark.sql.DataFrame): (Long, Seq[String]) = {
        val n = MatchServing.matchStreaming(spark, s"$base/src$i", roster,
          s"$base/out_$tag", s"$base/ckpt_$tag")
        (n, lines(spark.read.parquet(s"$base/out_$tag")))
      }
      val emps = rosterA()
      val batchPlan = MatchPipeline.matchOutput(users(0), emps).queryExecution.optimizedPlan

      // two back-to-back calls on one roster: one preparation, and each
      // call serves exactly the batch answer
      val before = stored()
      val (n1, got1) = serve("a0", 0, emps)
      val artifactA = stored() -- before
      val (n2, got2) = serve("a1", 1, emps)
      assert((n1, n2) === ((1L, 0L)), "the second call on the same roster must prepare nothing")
      assert(artifactA.nonEmpty, "the prepared roster must be stored")
      assert(got1 === lines(MatchPipeline.matchOutput(users(0), emps)))
      assert(got2 === lines(MatchPipeline.matchOutput(users(1), emps)))
      assert(got1.count(_.startsWith("ravi.kumar|")) === MatchPipeline.TopK,
        "the tie at k must still cut at k rows")

      // a batch reads the roster only through the stored frames: the
      // roster's own source is not in its plan, so no roster-side stage
      // (normalize, invariants, distinct, fan-out window) runs per batch.
      // Analyzed plans: the optimizer rewrites a local source's leaf.
      val source = emps.queryExecution.analyzed.collectLeaves()
      def readsSource(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collectLeaves().exists(l => source.exists(_.sameResult(l)))
      val storedA = MatchPipeline.prepareRoster(emps, Some(MatchPipeline.TopK)).stored()
      try {
        assert(readsSource(MatchPipeline.matchOutput(users(0), emps)))
        assert(!readsSource(MatchPipeline.matchOutputOf(users(0), storedA,
          MatchPipeline.TopK, MatchPipeline.ScoreThreshold)))
      } finally storedA.release()

      // an equal roster DataFrame built again reuses the stored one
      val (n3, got3) = serve("a2", 0, rosterA())
      assert(n3 === 0L, "an equal rebuilt roster must reuse the prepared one")
      assert(got3 === got1)

      // a different roster is prepared afresh, answers with its own rows,
      // and the first roster's blocks are released
      val (n4, got4) = serve("b0", 0, rosterB())
      assert(n4 === 1L)
      assert(got4 === lines(MatchPipeline.matchOutput(users(0), rosterB())))
      assert(got4 !== got1, "a new roster must not be served from the old one")
      assert((stored() intersect artifactA).isEmpty, "the replaced roster must be released")

      // an empty roster (no emp_id column) is stored too: every username
      // gets its USER NOT FOUND sentinel, as in batch
      val empty = EmployeeNormalizer.normalize(Seq(("Ada", "Lovelace")).toDF("first name", "last name"))
      val (n5, got5) = serve("e0", 1, empty)
      assert(n5 === 1L)
      assert(got5 === lines(MatchPipeline.matchOutput(users(1), empty)))
      assert(got5.nonEmpty && got5.forall(_.endsWith("|USER NOT FOUND")))

      // no other query in the session plans differently while one is held
      val after = MatchPipeline.matchOutput(users(0), emps).queryExecution.optimizedPlan
      assert(after.sameResult(batchPlan), "a held prepared roster changed a batch plan")
      assert(after.collectLeaves().forall(l =>
        !l.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] &&
          !l.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))

      val lastHeld = stored() -- before
      MatchServing.releaseRoster()
      assert((stored() intersect lastHeld).isEmpty, "releaseRoster must free the held roster")
    }
  }

  test("prepared roster: concurrent calls on different rosters each serve their own roster") {
    MatchServing.releaseRoster()
    val before = stored()
    withDir("graft_serve_conc") { base =>
      requests.head.toDF("username").repartition(2).write.parquet(s"$base/src")
      val users = spark.read.parquet(s"$base/src")
      val rosters = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "a" -> (() => rosterA()), "b" -> (() => rosterB()), "a2" -> (() => rosterA()))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(rosters.size)
      try {
        val calls = rosters.map { case (tag, r) =>
          pool.submit(() => MatchServing.matchStreaming(spark, s"$base/src", r(),
            s"$base/out_$tag", s"$base/ckpt_$tag"))
        }
        calls.foreach(_.get())
      } finally pool.shutdown()
      rosters.foreach { case (tag, r) =>
        assert(lines(spark.read.parquet(s"$base/out_$tag")) ===
          lines(MatchPipeline.matchOutput(users, r())), s"call $tag served the wrong roster")
      }
    }
    // every replaced roster was freed once its last reader returned
    MatchServing.releaseRoster()
    assert((stored() -- before).isEmpty, "a prepared roster outlived its readers")
  }
}
