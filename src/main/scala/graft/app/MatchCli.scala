package graft.app

import org.apache.spark.sql.SparkSession
import graft.pipeline.MatchPipeline
import graft.schema.EmployeeNormalizer
import graft.util.Cp

/**
 * Thin CLI driver for the flagship match pipeline — the engine's equivalent
 * of the reference's HTTP upload endpoint (/root/reference/main.py:136-221):
 * two CSVs in, ranked-match CSV out.
 *
 * Usage: MatchCli <employees.csv> <usernames.csv> <outDir> [--separators]
 * [--multi-part]
 * (--separators reproduces the reference's blank row between username
 * groups, main.py:209; the default single-file output preserves the
 * reference's one-CSV contract — pass --multi-part for the distributed
 * many-part write at scale)
 */
object MatchCli {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length == 3,
      "usage: MatchCli <employees.csv> <usernames.csv> <outDir> [--separators] [--multi-part]")
    val Array(employeesPath, usernamesPath, outDir) = positional
    val separators = flags.contains("--separators")
    val singleFile = !flags.contains("--multi-part")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.ui.enabled", "false")
      .appName("graft-match")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val employeesRaw = spark.read.option("header", "true").csv(employeesPath)
    val employees = EmployeeNormalizer.normalize(employeesRaw)

    val usernamesRaw = spark.read.option("header", "true").csv(usernamesPath)
    val lowered = usernamesRaw.toDF(usernamesRaw.columns.map(_.toLowerCase).toIndexedSeq: _*)
    require(lowered.columns.contains("username"),
      "usernames CSV must contain a 'username' column (main.py:153)")

    // stored once (at most U x k rows): the write and the row count both
    // read it, so the scored cross join runs once per invocation
    val out = Cp.ser(MatchPipeline.matchOutput(lowered.select("username"), employees))
    MatchPipeline.writeCsv(out, outDir, separators, singleFile = singleFile)
    println(s"[match] wrote ${out.count()} rows to $outDir")
    spark.stop()
  }
}
