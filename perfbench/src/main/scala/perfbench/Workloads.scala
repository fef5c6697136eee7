package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.bigclam.BigClam
import graft.graph.{GraphGen, GraphOps}

final case class Check(name: String, ok: Boolean, detail: String)

/** One benchmark workload: inputs made from the seed in `setup`, one
  * `pass` over its calls, and output checks made once, after timing. */
trait Workload {
  /** Builds the inputs; runs once per set-up repetition. */
  def setup(spark: SparkSession, rec: Recorder): Unit
  def pass(spark: SparkSession, rec: Recorder): Unit
  /** Runs between the cold and the warm passes, outside timing: writes the
    * query outputs DuckDB checks to `dumpDir`, listed in [[dumped]]. */
  def dump(spark: SparkSession, rec: Recorder, dumpDir: File): Unit = ()
  /** Checks that need Spark, made after timing. */
  def check(spark: SparkSession, rec: Recorder): Seq[Check] = Nil
  /** (query, oracle SQL or "") of the outputs written by [[dump]]. */
  def dumped: Seq[(String, String)] = Nil
  /** Directory holding the tables the dumped queries read. */
  def dataDir: String = ""
  /** Input sizes and settings, recorded with the result. */
  def params: Map[String, Any]
  /** Ids of the RDDs the harness itself keeps persisted (its inputs), left
    * out of what the run reports the program keeps. */
  def ownRdds: Set[Int] = Set.empty
}

object Workload {
  def layerOf(q: String): String =
    if (q.startsWith("bigclam_")) "bigclam"
    else if (q.startsWith("q_graph_")) "graph"
    else if (q.startsWith("q_multimodal_")) "multimodal"
    else if (q.startsWith("q_sim_") || q.startsWith("q_embed_") ||
      q.startsWith("q_dedup_semantic") || q == "q_cluster_kmeans") "vector"
    else if (q.startsWith("q_text_") || q.startsWith("q_dedup_") ||
      q.startsWith("q_sample_") || q == "q_minhash_lsh" || q == "q_corpus_stats") "text"
    else "ops"

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Declared queries by name; refuses a build whose query map lacks one
    * (an empty map means stub classes, not the compiled program). */
  def declared(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    if (missing.nonEmpty) throw new StubClassesException(
      s"SparkEntry.queries lacks ${missing.mkString(", ")} (${all.size} declared)")
    names.map(n => n -> all(n))
  }

  /** Runs each query once through its layer's span, dumping parquet the
    * way graft.Verify does, so DuckDB compares the same bytes. */
  def dump(spark: SparkSession, rec: Recorder, dir: File, data: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    qs.flatMap { case (name, fn) =>
      rec.call(s"dump:$name", layerOf(name)) {
        fn(spark, data).coalesce(1).write.mode("overwrite").parquet(new File(dir, name).getPath)
      }.map(_ => name -> oracle.getOrElse(name, ""))
    }
  }
}

final class StubClassesException(msg: String) extends RuntimeException(msg)

/** The declared-query surface graft.Bench times: a fixed,
  * module-stratified sample of the declared queries on sf0.1-sized tables,
  * a cold pass then warm passes in one session. The documents and
  * embeddings are drawn from the seed in ScaleCorpus's shape: every R-th
  * sf0.1 original, each R times, where replica 0 is the original, odd
  * replicas exact copies and even ones near-duplicates, so the dedup
  * queries have known answers and the tables keep sf0.1's size. The other
  * tables are sf0.1's. The seed also permutes the query order of each
  * pass. */
final class Sweep(src: String, work: File, seed: Long, replicas: Int) extends Workload {
  val names: Seq[String] = Seq(
    // ops: windows, events
    "q_win_rank", "q_events_sessionize",
    // text, vector, multimodal (the graph layer runs in fit-powerlaw)
    "q_dedup_lsh_cluster", "q_dedup_semantic", "q_multimodal_features",
    // memoized per session: its first call fits, later calls reuse the fit
    "bigclam_fit_sparse_smoke")
  private val qs = Workload.declared(names)
  private val data = new File(work, "data").getPath
  override def dataDir: String = data
  private var docs = 0L
  def params: Map[String, Any] = Map("replicas" -> replicas, "docs" -> docs, "queries" -> names)
  private var dumpedQs: Seq[(String, String)] = Nil
  override def dumped: Seq[(String, String)] = dumpedQs

  def setup(spark: SparkSession, rec: Recorder): Unit = rec.call("corpus", "Tables") {
    val r = replicas
    // every R-th original, so each seed does the same dedup work; the seed
    // draws the near-dup markers; replica i of original X gets id X*R+i
    def replicate(df: DataFrame, id: String) = df
      .filter(pmod(col(id), lit(r)) === 0)
      .select(col("*"), posexplode(sequence(lit(0), lit(r - 1))).as(Seq("i", "unused")))
      .withColumn(id, col(id) * r + col("i"))
      .withColumn("near", col("i") > 0 && pmod(col("i"), lit(2)) === 0)
      .withColumn("tag", pmod(xxhash64(col(id), lit(seed)), lit(1000000007L)))
    val d = graft.Tables.documents(spark, src)
    replicate(d, "doc_id")
      .withColumn("text", when(col("near"),
        concat(col("text"), lit(" xrep"), col("tag").cast("string"))).otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .select(d.columns.map(col): _*)
      .write.mode("overwrite").parquet(s"$data/documents.parquet")
    val e = graft.Tables.embeddings(spark, src)
    replicate(e, "vec_id")
      .withColumn("embedding", when(col("near"), concat(
          array((col("embedding").getItem(0) +
            (col("tag") % 97 + 1).cast("float") * lit(1e-6f)).cast("float")),
          slice(col("embedding"), 2, 1000000))).otherwise(col("embedding")))
      .select(e.columns.map(col): _*)
      .write.mode("overwrite").parquet(s"$data/embeddings.parquet")
    docs = spark.read.parquet(s"$data/documents.parquet").count()
  }

  /** Each pass runs the queries in its own order, drawn from the seed, so
    * no query always follows the same one. */
  def pass(spark: SparkSession, rec: Recorder): Unit =
    new scala.util.Random(seed * 1000 + rec.pass).shuffle(qs).foreach { case (n, fn) =>
      rec.call(n, Workload.layerOf(n))(Workload.noop(fn(spark, data)))
    }

  override def dump(spark: SparkSession, rec: Recorder, dumpDir: File): Unit =
    dumpedQs = Workload.dump(spark, rec, dumpDir, data, qs)
}

/** The paper's algorithm: BigCLAM on a GraphGen.powerLawEdges graph whose
  * node ids the seed relabels, then the graph phase on the same graph. */
final class FitPowerLaw(seed: Long, nNodes: Long, nDraws: Long, k: Int,
    iterations: Int, cap: Int, traced: Boolean) extends Workload {
  private val bp = BigClam.Params(k = k)
  private val Mult = 7919L // prime, so coprime to any node count it does not divide
  require(nNodes % Mult != 0, "the relabeling needs a node count coprime to 7919")
  private var sym: DataFrame = _
  private var edgeRows = 0L
  val llhs = scala.collection.mutable.ArrayBuffer.empty[Double]
  val histories = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
  private var f0: DataFrame = _
  // per pass: (rows, components), (rows, rank sum), (edges, assortativity)
  private val ccs, pageRanks, assorts = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
  private var owned = Set.empty[Int]
  override def ownRdds: Set[Int] = owned

  def params: Map[String, Any] = Map("nodes" -> nNodes, "draws" -> nDraws, "edge_rows" -> edgeRows,
    "k" -> k, "iterations" -> iterations, "support_cap" -> cap, "llh" -> llhs.headOption)

  def setup(spark: SparkSession, rec: Recorder): Unit =
    rec.call("symEdges", "graph") {
      // one graph structure for every seed (GraphGen's default seed); the
      // seed relabels the nodes by the bijection id -> (id * Mult + seed) mod
      // n, so runs differ in node ids and data placement, not in the work
      def relabel(c: String) = pmod(col(c) * lit(Mult) + lit(seed), lit(nNodes)).as(c)
      val edges = GraphGen.powerLawEdges(spark, nNodes, nDraws)
        .select(relabel("src"), relabel("dst"))
      sym = materialize(GraphOps.symEdges(edges))
      edgeRows = sym.count()
    }

  /** Persists and computes `df`, noting the RDDs this adds as the harness's. */
  private def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    owned ++= sc.getPersistentRDDs.keySet -- before
    p
  }

  /** (long, double) of the single row `df` aggregates to. */
  private def pair(df: DataFrame): (Long, Double) = {
    val r = df.first()
    (r.getLong(0), r.getDouble(1))
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    val ranked = rec.call("seedRank", "graph")(materialize(GraphOps.seedRank(sym)))
    val init = rec.call("initSparse", "bigclam")(materialize(BigClam.initSparse(sym, bp, ranked)))
    init.foreach { f => if (f0 == null) f0 = f }
    val fit = init.flatMap { f =>
      rec.call("fitSparse", "bigclam")(BigClam.fitSparse(sym, bp, iterations,
        trackHistory = true, supportCap = Some(cap), warmStart = Some(f)))
    }
    fit.foreach { case (f, hist) =>
      histories += hist
      rec.call("llhSparse", "bigclam")(BigClam.llhSparse(sym, f, bp)).foreach(llhs += _)
    }
    rec.call("connectedComponents", "graph")(pair(GraphOps.connectedComponents(sym)
      .agg(count(lit(1)), countDistinct(col("comp")).cast("double")))).foreach(ccs += _)
    rec.call("pageRank", "graph")(pair(GraphOps.pageRank(sym, 5)
      .agg(count(lit(1)), sum(col("pr"))))).foreach(pageRanks += _)
    rec.call("assortativity", "graph")(pair(GraphOps.assortativity(sym)
      .select(col("n_edges").cast("long"), col("assortativity").cast("double"))))
      .foreach(assorts += _)
    // release what this pass holds before the next one starts; what the
    // program keeps by itself stays, and shows in graftbridge.*
    (ranked ++ init.filter(_ ne f0) ++ fit.map(_._1)).foreach(_.unpersist(blocking = true))
  }

  override def check(spark: SparkSession, rec: Recorder): Seq[Check] = {
    val monotone = histories.map(h => h.zip(h.drop(1)).forall { case (a, b) => b >= a })
    // every pass reads the same graph, so every pass must give the same
    // answer (double sums within 1e-9 relative: their order may change)
    def same(name: String, xs: Seq[(Long, Double)]) = Check(name,
      xs.nonEmpty && xs.head._1 > 0 && xs.forall { case (n, v) =>
        n == xs.head._1 && math.abs(v - xs.head._2) <= 1e-9 * math.abs(xs.head._2) },
      xs.map { case (n, v) => s"$n/$v" }.distinct.mkString(", "))
    val checks = Seq(
      same("graph.cc_repeatable", ccs.toSeq),
      same("graph.pagerank_repeatable", pageRanks.toSeq),
      same("graph.assortativity_repeatable", assorts.toSeq),
      Check("fit.llh_non_decreasing", histories.nonEmpty && monotone.forall(identity),
        histories.map(_.map(v => f"$v%.6f").mkString(",")).headOption.getOrElse("no fit")),
      Check("fit.llh_repeatable", llhs.nonEmpty && llhs.forall(_ == llhs.head),
        llhs.map(v => f"$v%.9f").mkString(",")))
    if (!traced || f0 == null || llhs.isEmpty) return checks
    // chained single-iteration calls: per-iteration spans and the parity check
    var f = f0
    val chained = (1 to iterations).flatMap { i =>
      rec.call(s"fitSparse.iter$i", "bigclam")(BigClam.fitSparse(sym, bp, 1,
        trackHistory = false, supportCap = Some(cap), warmStart = Some(f))).map { r => f = r._1 }
    }
    val llhChained = if (chained.size == iterations)
      rec.call("llhSparse.chained", "bigclam")(BigClam.llhSparse(sym, f, bp)) else None
    checks :+ Check("fit.chained_parity",
      llhChained.exists(v => math.abs(v - llhs.head) <= 1e-9 * math.abs(llhs.head)),
      s"one call ${llhs.head}, chained ${llhChained.getOrElse("failed")}")
  }
}
