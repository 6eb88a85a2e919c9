package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // sort-based shuffle writer for all shuffles — see the measured
      // rationale in Bench.scala (small-R bypass writer file churn)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }
  /** Filesystem path of a reference-workload input CSV (`employee.csv`,
    * `usernames.csv`) vendored under test resources `reference/` — both
    * rebuilt from fixtures/match_golden.csv by tools/gen_reference_csvs.py. */
  def referenceCsv(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/reference/$name").toURI).toString

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with streaming state on the RocksDB provider — the
    * off-heap store a 100 TB deployment runs (heap-backed HDFS state is
    * the executor-OOM path at high key cardinality). The provider is
    * captured per streaming-query START, so queries launched inside
    * `body` use RocksDB and everything else keeps the default. */
  def withRocksDbState[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
