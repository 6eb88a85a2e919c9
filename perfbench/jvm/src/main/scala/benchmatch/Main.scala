package benchmatch

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.app.MatchCli
import graft.pipeline.{MatchBlocking, MatchPipeline}
import graft.schema.EmployeeNormalizer
import graft.streaming.MatchServing

/**
 * The benchmark's JVM side. `run.py` writes a config file, starts
 * this JVM on it, and reads the result file it writes; all checks and
 * statistics are computed on the Python side.
 *
 * Modes:
 *  - `serve`: open-loop serving through `MatchServing.matchStreaming`;
 *  - `cli_trace`: `MatchCli.main` in this process under the trace, for the
 *    per-layer counts of the CLI workload.
 * With `trace` set, the workload's unit runs under [[Tracer]] and the layer
 * ladder [[exactLadder]] follows it.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    val result = cfg.get("mode").asText() match {
      case "serve" => Serve(cfg).run()
      case "cli_trace" => cliTrace(cfg)
      case other => sys.error(s"unknown mode $other")
    }
    Json.write(cfg.get("result").asText(),
      result ++ Map("peak_rss_mb" -> peakRssMb(), "timeline" -> timeline.toSeq))
    result.get("spans").foreach { spans =>
      Files.write(Paths.get(cfg.get("work_dir").asText(), "spans.jsonl"),
        spans.asInstanceOf[Seq[Any]].map(Json.render).asJava)
    }
  }

  // ---- shared helpers ----

  /** (phase, JVM age in seconds) marks, reported for run-time budgeting. */
  val timeline: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty
  def mark(phase: String): Unit =
    timeline += phase -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** A session configured as `MatchCli` configures its own. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .appName("graft-match")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def readCsv(s: SparkSession, path: String): DataFrame = s.read.option("header", "true").csv(path)

  def roster(s: SparkSession, path: String): DataFrame = EmployeeNormalizer.normalize(readCsv(s, path))

  def usernames(s: SparkSession, path: String): DataFrame = {
    val raw = readCsv(s, path)
    raw.toDF(raw.columns.map(_.toLowerCase).toIndexedSeq: _*).select("username")
  }

  /** The usernames as the match entry points take them: one row per value. */
  def distinctUsernames(s: SparkSession, path: String): DataFrame =
    usernames(s, path).select(col("username").cast("string").as("username")).distinct()

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def epochUs(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000 }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Builds the session and the inputs `reps` times and keeps the last; the
    * times are set-up samples (`setup_s` is their median). */
  def setUp[T](cfg: JsonNode)(load: SparkSession => T): (SparkSession, T, Seq[Double]) = {
    val reps = cfg.get("setup_reps").asInt()
    var last: (SparkSession, T) = null
    val times = (1 to reps).map { i =>
      val t0 = now()
      val s = session(cfg.get("cores").asInt())
      val loaded = load(s)
      val dt = secs(t0)
      if (i < reps) s.stop() else last = (s, loaded)
      dt
    }
    (last._1, last._2, times)
  }

  def spansOut(tr: Tracer): Seq[Map[String, Any]] =
    tr.spans.toSeq.map(s => s.stats.n.toMap ++ Map("name" -> s.name, "wall_s" -> s.wallS))

  /** Input sizes, and the distinct (first, last, full) name tuples of the
    * prepared roster: the tuples the exact path's kernel scores per username. */
  private def ladderInfo(r: DataFrame, u: DataFrame): Map[String, Any] = Map(
    "distinct_names" ->
      MatchPipeline.prepareEmployees(r).select("e_first", "e_last", "e_full").distinct().count(),
    "usernames" -> u.count(), "employees" -> r.count())

  /**
   * The exact path layer by layer. Each step materializes one layer's public
   * call on the same inputs; each step's lineage contains the previous
   * step's, so a layer's own share is the difference from the previous span
   * (run.py computes it). The kernel step is the public, unpruned
   * `scoredPairs` (every pair scored); `topk` goes through the fan-out-pruned
   * path `matchOutput` uses. The write step writes one CSV file, as MatchCli
   * does by default.
   */
  def exactLadder(tr: Tracer, s: SparkSession, rosterCsv: String, usersCsv: String,
                  writeDir: String): Map[String, Any] = {
    def r = roster(s, rosterCsv)
    def u = distinctUsernames(s, usersCsv)
    tr.span("schema")(noop(r))
    tr.span("prepare") { noop(MatchPipeline.prepareEmployees(r)); noop(MatchPipeline.prepareUsernames(u)) }
    // the same pairs without and with the score column: pruning the score
    // leaves the kernel out of the candidates step
    tr.span("candidates")(noop(MatchPipeline.scoredPairs(u, r).select("username", "emp_id", "employee_name")))
    tr.span("kernel")(noop(MatchPipeline.scoredPairs(u, r).select("username", "emp_id", "employee_name", "score")))
    tr.span("topk")(noop(MatchPipeline.rankedMatches(u, r)))
    tr.span("write")(MatchPipeline.writeCsv(MatchPipeline.matchOutput(u, r), writeDir, singleFile = true))
    ladderInfo(r, u)
  }

  // ---- cli_wide, traced ----

  /** `MatchCli.main` in this JVM under the trace (it picks up this session
    * through `getOrCreate` and stops it), then the exact ladder in a fresh
    * session. `cli_uptime_s` is this JVM's age when MatchCli returned — the
    * traced counterpart of an untraced CLI process's wall time. */
  def cliTrace(cfg: JsonNode): Map[String, Any] = {
    val cores = cfg.get("cores").asInt()
    val rosterCsv = cfg.get("roster_csv").asText()
    val usersCsv = cfg.get("users_csv").asText()
    val work = cfg.get("work_dir").asText()
    val s = session(cores)
    val tr = new Tracer(s)
    tr.attach()
    tr.span("app")(MatchCli.main(Array(rosterCsv, usersCsv, s"$work/cli_out")))
    val uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val s2 = session(cores)
    val tr2 = new Tracer(s2)
    tr2.attach()
    val info = exactLadder(tr2, s2, rosterCsv, usersCsv, s"$work/ladder_out")
    // what `MatchPipeline.auto` would run instead on this roster: blocked
    // candidate generation, for the blocking layer's counts
    tr2.span("blocking")(noop(MatchBlocking.candidatePairs(
      distinctUsernames(s2, usersCsv), roster(s2, rosterCsv))))
    tr2.detach()
    s2.stop()
    Map("cli_uptime_s" -> uptime, "cli_out" -> s"$work/cli_out",
      "spans" -> (spansOut(tr) ++ spansOut(tr2)), "ladder" -> info)
  }
}

/**
 * `serve_wide`: open-loop serving. A generator thread moves pre-written
 * request files into the source directory on the seeded schedule, stamping
 * each with its arrival time; the main thread calls `matchStreaming` back to
 * back, each `AvailableNow` call draining what has arrived. A drain phase
 * then drops a backlog at once and serves it in one call.
 */
final case class Serve(cfg: JsonNode) {
  import Main._

  private val work = cfg.get("work_dir").asText()
  private val staged = Paths.get(cfg.get("staged_dir").asText())
  private val rosterCsv = cfg.get("roster_csv").asText()

  private def names(key: String): Seq[String] = cfg.get(key).elements().asScala.map(_.asText()).toSeq

  /** Moves a staged request file into `src`; its mtime is its arrival, so
    * the file source takes requests in arrival order. */
  private def arrive(name: String, src: Path): Long = {
    val t = epochUs()
    val f = staged.resolve(name)
    Files.setLastModifiedTime(f, FileTime.from(java.util.concurrent.TimeUnit.MICROSECONDS.toNanos(t),
      java.util.concurrent.TimeUnit.NANOSECONDS))
    Files.move(f, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    t
  }

  private def done(out: String): Int = {
    val d = Paths.get(out).toFile
    Option(d.listFiles()).map(_.count(b => new java.io.File(b, "_SUCCESS").exists())).getOrElse(0)
  }

  def run(): Map[String, Any] = {
    val (s, r, setups) = setUp(cfg) { s =>
      val r = roster(s, rosterCsv)
      r.count()
      r
    }
    val trace = cfg.get("trace").asBoolean()
    val tr = new Tracer(s)
    def serveCall(src: String, out: String, ckpt: String): Unit =
      if (trace) tr.span("serve")(MatchServing.matchStreaming(s, src, r, out, ckpt))
      else MatchServing.matchStreaming(s, src, r, out, ckpt)

    // warm-up requests in their own stream: JIT and first-use costs
    val warm = Paths.get(work, "warm_src")
    Files.createDirectories(warm)
    names("warmup").foreach(arrive(_, warm))
    mark("setup")
    MatchServing.matchStreaming(s, warm.toString, r, s"$work/warm_out", s"$work/warm_ckpt")
    mark("warm-up")

    val src = Paths.get(work, "src")
    Files.createDirectories(src)
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"

    if (trace) tr.attach()
    // base phase: the seeded schedule, served by back-to-back calls
    val schedule = cfg.get("schedule").elements().asScala
      .map(n => (n.get("name").asText(), n.get("at_s").asDouble())).toSeq
    val arrived = new AtomicInteger(0)
    val arrivals = java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
    val startUs = epochUs() + 200000L
    val gen = new Thread(() => schedule.foreach { case (name, at) =>
      val due = startUs + (at * 1e6).toLong
      val wait = due - epochUs()
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      val t = arrive(name, src)
      arrived.incrementAndGet()
      arrivals.add(Map("name" -> name, "due_us" -> due, "arrival_us" -> t))
    }, "request-generator")
    gen.setDaemon(true)
    gen.start()
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (gen.isAlive || done(out) < arrived.get()) {
      val d0 = done(out)
      val backlog = arrived.get() - d0
      val cpu0 = processCpuS()
      val c0 = epochUs()
      serveCall(src.toString, out, ckpt)
      calls += Map("start_us" -> c0, "end_us" -> epochUs(), "cpu_s" -> (processCpuS() - cpu0),
        "backlog" -> backlog, "served" -> (done(out) - d0))
    }
    gen.join()
    mark("base phase")

    // drain phase(s), after the base phase: a backlog dropped at once and
    // served by one call; traced runs serve one backlog untraced and one
    // traced, for the tracing overhead
    def drain(key: String): Map[String, Any] = {
      val t = names(key).map(arrive(_, src))
      MatchServing.matchStreaming(s, src.toString, r, out, ckpt)
      Map("arrival_us" -> t.max)
    }
    val drains = if (trace) {
      tr.detach()
      val a = drain("drain")
      tr.attach()
      val b = tr.span("serve_drain")(drain("drain_traced"))
      Seq(a, b)
    } else Seq(drain("drain"))
    mark("drain")

    val res = Map("setup_s" -> setups, "arrivals" -> arrivals.asScala.toSeq, "calls" -> calls.toSeq,
      "drains" -> drains, "out" -> out, "ckpt" -> ckpt)
    if (!trace) res
    else {
      val info = exactLadder(tr, s, rosterCsv, cfg.get("ladder_users_csv").asText(), s"$work/ladder_out")
      tr.detach()
      res ++ Map("spans" -> spansOut(tr), "ladder" -> info)
    }
  }
}
