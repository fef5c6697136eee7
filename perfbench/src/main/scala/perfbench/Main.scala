package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one run.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --warm P
  *     --threads T --work DIR --data SF_DIR
  *
  * Sets the workload up once, timing `setup_s` from JVM start to the first
  * timed call; then runs a cold pass and P warm passes, more until S
  * seconds of passes have gone, checks the outputs, and prints one
  * line `PERFBENCH_RESULT <result file>` for perfbench/run.py, which turns
  * the raw walls and call rows of that file into metrics. Traced runs time
  * the same calls, each under its own job group, and run one more warm
  * pass untraced to measure the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val warmPasses = opt("warm").toInt
    val threads = opt("threads").toInt
    val work = new File(opt("work"))
    val rec = new Recorder(traced)
    val wl: Workload = try workload match {
      case "sweep-sf0.1" => new Sweep(opt("data"), work, seed, replicas = 3)
      case "fit-powerlaw" => new FitPowerLaw(seed, nNodes = 5000, nDraws = 15000, k = 100,
        iterations = 2, cap = 16, traced = traced)
    } catch {
      case e: StubClassesException =>
        System.err.println(s"perfbench: refusing to run against stub classes: ${e.getMessage}")
        sys.exit(3)
    }

    // set-up, once: JVM start, session, inputs
    val spark = session(threads, work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    rec.attach(spark)
    wl.setup(spark, rec)
    val setupCalls = rec.calls.map(_.id).toSeq
    val setupS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3

    // measured passes: one cold, then warm ones until the time is up; the
    // outputs for the checks are written between them, outside timing
    val dumpDir = new File(work, "out")
    var gc = 0.0
    var timedWall = 0.0
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timedPass(): Unit = {
      rec.pass = passWalls.size + 1
      val gc0 = Jvm.gcSeconds
      val p0 = System.nanoTime()
      wl.pass(spark, rec)
      passWalls += (System.nanoTime() - p0) / 1e9
      timedWall += passWalls.last
      gc += Jvm.gcSeconds - gc0
    }
    timedPass()
    rec.pass = 0
    wl.dump(spark, rec, dumpDir)
    while (passWalls.size < 1 + warmPasses || timedWall < seconds) timedPass()
    // traced runs: one more warm pass without spans, the overhead reference
    val untracedWarm = if (!traced) 0.0 else {
      rec.spans = false
      rec.pass = -1
      val p0 = System.nanoTime()
      wl.pass(spark, rec)
      rec.spans = true
      (System.nanoTime() - p0) / 1e9
    }
    rec.pass = 0
    // what the program keeps after its calls return; the inputs the harness
    // itself persisted are left out
    val sc = spark.sparkContext
    val kept = sc.getRDDStorageInfo.filterNot(r => wl.ownRdds(r.id))
    val endState = Map(
      "heap_mb_end" -> Jvm.heapUsedMb,
      "live_rdds_end" -> sc.getPersistentRDDs.keys.count(id => !wl.ownRdds(id)),
      "storage_mb_end" -> kept.map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "local_dir_mb_end" -> Jvm.dirMb(new File(work, "spark-local")))

    val checks = wl.check(spark, rec)
    val timed = rec.calls.filter(_.pass > 0)
    val out = Map(
      "workload" -> workload, "seed" -> seed, "threads" -> threads, "traced" -> traced,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "params" -> wl.params,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "attempted" -> timed.size, "failed" -> timed.count(!_.ok),
      "session_start_s" -> sessionStart, "setup_s" -> setupS, "setup_calls" -> setupCalls,
      "pass_walls" -> passWalls.toSeq, "untraced_warm_s" -> untracedWarm, "gc_s" -> gc,
      "end_state" -> endState, "checks" -> checks,
      "dump" -> Map("dir" -> dumpDir.getPath, "data" -> wl.dataDir,
        "queries" -> wl.dumped.map { case (q, sql) => Map("name" -> q, "oracle" -> sql) }),
      "calls" -> rec.calls.map(rec.row).toSeq)
    val file = new File(work, "result.json")
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(file, out)
    println("PERFBENCH_RESULT " + file.getPath)
    spark.stop()
  }

  def session(threads: Int, work: File): SparkSession = SparkSession.builder()
    .master(s"local[$threads]")
    .config("spark.sql.shuffle.partitions", threads.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .getOrCreate()
}
