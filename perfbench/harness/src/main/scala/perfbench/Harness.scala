package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.CorpusStreams

/** The benchmark's load generator: one process, one closed-loop client.
  *
  * Runs one workload against the tables in `--data` on `local[--cpus]`:
  * `--setups` set-ups (a fresh session plus the cold pass), then warm
  * passes until `--seconds` have elapsed. Every pass writes each query's
  * result as parquet; the output checks read the last timed pass's. Raw samples go to
  * `<work>/result.json`; with `--trace 1` the spans go to
  * `<work>/spans.jsonl`. `perfbench/run.py` turns both into metrics.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --data DIR
  *           --work DIR --cpus C --setups K
  */
object Harness {

  /** The paper's kNN recommenders: the hybrid fusion of user- and
    * item-kNN top-K, and item-kNN rating prediction. */
  val RecsysQueries = Seq("q33_hybrid_topk", "q31_item_rating_predict")

  /** Micro-batches per ingest pass: the fewest that exercise both the
    * empty-state and the standing-state path of every gate. */
  val IngestBatches = 2

  /** The `Tables` readers each workload's queries start from. */
  val Readers: Map[String, Seq[String]] = Map(
    "recsys-topk" -> Seq("lineitem", "orders"),
    "stream-ingest" -> Seq("documents"))

  def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), Paths.get(a("work")), a("cpus").toInt,
      a("setups").toInt)
    run.go()
  }
}

/** One named, timed unit of load. */
final case class Op(id: String, run: SparkSession => Unit)

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
                data: String, work: Path, cpus: Int, setups: Int) {
  import Harness._

  private val tracer = new Tracer(traced)
  private val rng = new Random(seed)
  private val stateRoot = work.resolve("state")
  private val failures = mutable.LinkedHashMap[String, String]()
  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    spark
  }

  // ---- workloads ------------------------------------------------------

  private def queryOps(names: Seq[String]): Seq[Op] =
    rng.shuffle(names).map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, spark => {
        val df = tracer.span("build", "operators", name)(fn(spark, data))
        tracer.phasesOf(df.queryExecution)
        tracer.span("write", "operators", name) {
          tracer.tagJobs(spark)
          df.write.mode("overwrite").parquet(work.resolve(s"out/$name").toString)
        }
      })
    }

  /** Documents split into consecutive doc_id ranges at seeded cut points
    * (ids are assigned in arrival order), as in-memory micro-batches. */
  private lazy val (docsSchema, batches) = {
    val docs = Tables.documents(SparkSession.active, data)
      .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")
    val rows = docs.collect().toSeq
    val cuts = (1 until IngestBatches).map { i =>
      val even = rows.size.toDouble * i / IngestBatches
      (even + (rng.nextDouble() - 0.5) * rows.size / IngestBatches * 0.4).toInt
    }
    val bounds = 0 +: cuts :+ rows.size
    (docs.schema, bounds.sliding(2).map { case Seq(lo, hi) => rows.slice(lo, hi) }.toSeq)
  }

  private def batchDf(spark: SparkSession, b: Int): DataFrame =
    spark.createDataFrame(batches(b).asJava, docsSchema)

  private def ingestOps(passDir: () => Path): Seq[Op] =
    batches.indices.flatMap { b =>
      def gate(name: String)(f: (DataFrame, Long, String) => Unit): Op =
        Op(s"$name/b$b", spark => tracer.span("gate", "streaming", s"$name/b$b") {
          tracer.tagJobs(spark)
          f(batchDf(spark, b), b.toLong, passDir().resolve(name).toString)
        })
      Seq(
        gate("manifest")((df, id, dir) => CorpusStreams.ingestManifestBatch(
          df, id, dir, corpusHasLines = false,
          target = graft.operators.Analytics.SHARD_TOKENS,
          minStops = graft.operators.Corpus.Q125_MIN_STOPS)),
        gate("drift")((df, id, dir) => CorpusStreams.ingestDriftBatch(df, id, dir)))
    }

  // ---- measurement ----------------------------------------------------

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  private def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def note(msg: String): Unit = Console.err.println(
    f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $msg")

  /** Runs one op; an exception counts it failed and the run goes on. */
  private def attempt(spark: SparkSession, op: Op, pass: Int): Double = {
    val t0 = System.nanoTime()
    try {
      tracer.op(op.id, pass)(op.run(spark))
      val s = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"[perfbench] pass $pass%d ${op.id}%s $s%.3f s")
      s
    } catch { case e: Throwable =>
      failures.getOrElseUpdate(op.id, String.valueOf(e.getMessage).take(300))
      -1.0
    }
  }

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
        .asScala.foreach(Files.delete)

  def go(): Unit = {
    val t0 = jvmStart / 1e3
    val ingest = workload == "stream-ingest"
    var passNo = 0
    def passDir(): Path = stateRoot.resolve(s"pass$passNo")
    var spark: SparkSession = null
    var ops: Seq[Op] = Nil
    val setupS = mutable.ArrayBuffer[Double]()
    val setupCpuS = mutable.ArrayBuffer[Double]()
    var coldOp = Map.empty[String, Double]
    val jit0 = jitS()

    // ---- set-ups: fresh session + cold pass, `setups` times; the first
    // is timed from process start
    for (s <- 0 until setups) {
      val start = if (s == 0) t0 else System.currentTimeMillis() / 1e3
      val cpuStart = if (s == 0) 0.0 else cpuS()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      spark = session()
      note(s"set-up $s: session started")
      if (ops.isEmpty) ops = workload match {
        case "recsys-topk" => queryOps(RecsysQueries)
        case "stream-ingest" => ingestOps(() => passDir())
      }
      note(s"set-up $s: operations ready")
      passNo = -1 - s
      deleteTree(passDir())
      tracer.pass(passNo) {
        coldOp = ops.map(op => op.id -> attempt(spark, op, passNo)).toMap
      }
      deleteTree(passDir())
      setupS += System.currentTimeMillis() / 1e3 - start
      setupCpuS += cpuS() - cpuStart
    }
    val jitSetup = jitS() - jit0

    // ---- timed warm passes ------------------------------------------
    case class Pass(wall: Double, cpu: Double, gc: Double, jit: Double,
                    ops: Seq[(String, Double)], stored: (Long, Long))
    val passes = mutable.ArrayBuffer[Pass]()
    val timed0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timed0) / 1e9 < seconds) {
      passNo = passes.size
      val (w0, c0, g0, j0) = (System.nanoTime(), cpuS(), gcS(), jitS())
      val samples = tracer.pass(passNo)(ops.map(op => op.id -> attempt(spark, op, passNo)))
      val wall = (System.nanoTime() - w0) / 1e9
      val (c1, g1, j1) = (cpuS(), gcS(), jitS())
      val stored = dirBytes(passDir())
      if (passNo > 0) deleteTree(stateRoot.resolve(s"pass${passNo - 1}"))
      passes += Pass(wall, c1 - c0, g1 - g0, j1 - j0, samples, stored)
    }

    // ---- untimed: sources scans (traced run), cache census, ingest checks
    if (traced) tracer.pass(Tracer.Untimed)(Readers(workload).foreach { t =>
      tracer.span("scan", "sources", t) {
        tracer.tagJobs(spark)
        val df = if (t == "documents") Tables.documents(spark, data) else Tables.table(spark, data, t)
        df.write.format("noop").mode("overwrite").save()
      }
    })
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    val cacheBytes = storage.map(r => r.memSize + r.diskSize).sum
    if (ingest) {
      val last = passDir()
      spark.read.parquet(last.resolve("manifest/manifest").toString)
        .coalesce(1).write.mode("overwrite").parquet(work.resolve("out/manifest").toString)
      // replaying every gate on a middle batch must leave the state as it was
      copyTree(last, work.resolve("replay/before"))
      val mid = batches.size / 2
      ops.filter(_.id.endsWith(s"/b$mid")).foreach(op => op.run(spark))
      copyTree(last, work.resolve("replay/after"))
    }
    val oracle = (if (ingest) Seq("q125_training_manifest") else ops.map(_.id))
      .map(n => n -> SparkEntry.oracleSql.getOrElse(n, ""))
    tracer.drain(spark)
    tracer.write(work.resolve("spans.jsonl"))

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "setup_s" -> setupS.toSeq, "setup_cpu_s" -> setupCpuS.toSeq, "jit_setup_s" -> jitSetup,
      "ops" -> ops.map(_.id), "cold_op_s" -> coldOp,
      "passes" -> passes.map(p => Map(
        "wall_s" -> p.wall, "cpu_s" -> p.cpu, "gc_s" -> p.gc, "jit_s" -> p.jit,
        "stored_bytes" -> p.stored._1, "stored_files" -> p.stored._2,
        "op_s" -> p.ops.toMap)),
      "cache_bytes" -> cacheBytes, "cache_entries" -> storage.length,
      "failures" -> failures.toMap, "oracle_sql" -> oracle.toMap,
      "docs_per_batch" -> (if (ingest) batches.map(_.size) else Nil))
    Files.writeString(work.resolve("result.json"), Harness.toJson(result))
    spark.stop()
  }
}
