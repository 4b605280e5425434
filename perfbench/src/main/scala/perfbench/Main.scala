package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GenScaledCorpus, GraftSession, SparkEntry}
import graft.cnj.{MetasJob, Reader}
import graft.operators.CorpusStore

/** The benchmark's JVM side: one process runs one workload and writes
  * `result.json` into its run directory; `perfbench/run.py` builds this,
  * generates inputs, checks outputs and prints the metrics.
  *
  * Usage: Main --workload cnj_etl|cnj_session|dedup_store --seed N
  *   --seconds S --trace 0|1 --input DIR --run DIR
  *
  * The session is `GraftSession.harnessBuilder()` with nothing set
  * beyond what the environment gives it (core count via
  * SPARK_GRAFT_CPUS, heap via -Xmx). The traced run adds a span
  * recorder ([[Tracer]]) and the counting `file:` filesystem; the
  * untraced run has neither.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      input: String, run: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m("run"))
  }

  /** One failed call: what was called, the exception class and message. */
  final case class Failure(op: String, cls: String, message: String)

  final class Run(val o: Opts) {
    val errors = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0L
    val out = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    /** Time `body`, counting it as one operation; a throw is recorded,
      * never swallowed, and the timing of a failed call is discarded. */
    def op(name: String)(body: => Unit): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case NonFatal(e) =>
          errors += Failure(name, e.getClass.getName, String.valueOf(e.getMessage).take(2000))
          System.err.println(s"[perfbench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Resident-set high-water mark of this JVM, from /proc. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  /** MB held by cached or checkpointed blocks, and the sink-materialize
    * scratch dirs left in the temp dir — both are what a long-lived
    * session accumulates when the program does not release them. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def scratchDirs(): Int =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.startsWith("graft-sink-mat-"))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = new Run(o)
    new File(o.run).mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = GraftSession.harnessBuilder()
    if (o.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    r.out("session_start_s") = sessionStartS
    // inputs are generated after the session is up and are not part of
    // set-up; every run regenerates them, so every run starts alike
    if (o.workload == "dedup_store") r.out("gen_s") = seconds(generate(spark, o))._2
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    if (o.trace) {
      val fsClass = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass.getName
      r.out("fs_impl") = fsClass
    }
    r.out("regime") = Map(
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.hadoop.") ||
          k.startsWith("spark.local") || k == "spark.ui.enabled"
      })
    try o.workload match {
      case "cnj_etl" => cnjEtl(spark, r, tracer)
      // a cold start only: `cnj_etl`'s set-up time, sampled in more JVMs
      case "cnj_session" => r.out("setup_s") = sessionStartS
      case "dedup_store" => dedupStore(spark, r, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      r.out("peak_rss_mb") = peakRssMb()
      // what the session still holds once garbage is gone: cached and
      // checkpointed blocks, caches, anything a call failed to release.
      // The least of three collections, so a background thread's
      // allocation during one of them does not count.
      r.out("heap_live_mb") = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(100)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      tracer.foreach { t =>
        r.layers("session.start_s") = sessionStartS
        r.layers("session.warmup_s") = r.out.getOrElse("warmup_s", 0.0).asInstanceOf[Double]
        r.layers("jvm.gc_s") = gcS
        r.layers("jvm.heap_peak_mb") = heapPeakMb
        t.writeSpans(s"${o.run}/spans.jsonl")
      }
      r.out("attempted") = r.attempted
      r.out("errors") = r.errors.map(e => Map("op" -> e.op, "class" -> e.cls, "message" -> e.message))
      r.out("layers") = r.layers
      java.nio.file.Files.writeString(new File(o.run, "result.json").toPath, Json.value(r.out))
      spark.stop()
    }
  }

  /** GenScaledCorpus scale of `dedup_store`: 5k documents, 2k vectors. */
  val Scale = 1

  /** Inputs of `dedup_store` from GenScaledCorpus's document and
    * embedding model at the workload seed. */
  def generate(spark: SparkSession, o: Opts): Unit = {
    GenScaledCorpus.documentsDf(spark, Scale, o.seed).write.mode("overwrite")
      .parquet(s"${o.input}/documents.parquet")
    GenScaledCorpus.embeddingsDf(spark, Scale, o.seed).write.mode("overwrite")
      .parquet(s"${o.input}/embeddings.parquet")
    graft.Tables.invalidate(o.input)
  }

  // ---- cnj_etl --------------------------------------------------------

  /** Which part of `MetasJob.runAll` a query belongs to, from its long
    * call site: the Consolidado sink, the ResumoMetas sink, or the
    * driver-side consumers of the cached per-court summary (the chart
    * collect and the unmapped-branch warning). */
  def cnjPhase(callSite: String): String =
    if (callSite.contains("consolidadoSink")) "consolidado"
    else if (callSite.contains("writeCsv")) "resumo"
    else if (callSite.contains("resumoChain")) "chart"
    else "other"

  def cnjEtl(spark: SparkSession, r: Run, tracer: Option[Tracer]): Unit = {
    val o = r.o
    val outDir = s"${o.run}/out"
    r.out("setup_s") = r.out("session_start_s")
    r.out("input_bytes") = Option(new File(o.input).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".csv")).map(_.length()).sum
    val iter = r.op("runAll") {
      tracer.fold(MetasJob.runAll(spark, o.input, outDir))(
        _.span("cnj.run_all")(MetasJob.runAll(spark, o.input, outDir)))
    }
    r.out("iters") = iter.toSeq
    tracer.foreach { t =>
      val df = t.span("cnj.read_dir")(Reader.readDir(spark, o.input))
      t.span("cnj.parse")(noop(df))
      t.drain()
      val cores = spark.sparkContext.defaultParallelism
      r.layers("cnj.read_dir.s") = t.spansNamed("cnj.read_dir").head.wallS
      val p = t.work(t.spansNamed("cnj.parse").head)
      r.layers ++= Seq("cnj.parse.s" -> p.s, "cnj.parse.task_s" -> p.taskS,
        "cnj.parse.tasks" -> p.tasks.toDouble, "cnj.parse.max_task_s" -> p.maxTaskS,
        "cnj.parse.core_util" -> p.coreUtil(cores), "cnj.parse.input_bytes" -> p.inputBytes.toDouble,
        "cnj.parse.rows" -> p.plans.generateRows.toDouble)
      val ph = t.phases(t.spansNamed("cnj.run_all").head, cnjPhase)
      def w(k: String) = ph.getOrElse(k, Work.empty)
      val (re, ch, co) = (w("resumo"), w("chart"), w("consolidado"))
      r.layers ++= Seq("cnj.resumo.s" -> re.s, "cnj.resumo.driver_s" -> re.driverS,
        "cnj.resumo.jobs" -> re.jobs.toDouble, "cnj.resumo.tasks" -> re.tasks.toDouble,
        "cnj.resumo.task_s" -> re.taskS, "cnj.resumo.shuffle_bytes" -> re.shuffleBytes.toDouble,
        "cnj.chart.s" -> ch.s, "cnj.chart.jobs" -> ch.jobs.toDouble,
        "cnj.chart.tasks" -> ch.tasks.toDouble, "cnj.chart.task_s" -> ch.taskS,
        "cnj.consolidado.s" -> co.s, "cnj.consolidado.tasks" -> co.tasks.toDouble,
        "cnj.consolidado.task_s" -> co.taskS, "cnj.consolidado.core_util" -> co.coreUtil(cores),
        "cnj.consolidado.output_bytes" -> co.outputBytes.toDouble)
    }
  }

  // ---- dedup_store ----------------------------------------------------

  /** Timed rounds of `dedup_store`, fixed by `--seconds` alone and never
    * by what the program returns, so every run of a comparison times the
    * same rounds. A round takes 7–9 s at scale 1 on a 4-core VM; at
    * `--seconds 10` two rounds are timed. */
  def timedRounds(seconds: Double): Int = math.min(8, math.max(2, math.ceil(seconds / 5).toInt))

  /** Closed loop, one client, one long-lived session: land the store,
    * warm up (one dedup pass, one store round), time the rounds (each a
    * dedup pass and a store round), then one untimed dedup pass and one
    * untimed store round whose outputs the oracles check. */
  def dedupStore(spark: SparkSession, r: Run, tracer: Option[Tracer]): Unit = {
    val o = r.o
    val dedup = new DedupPasses(spark, r, tracer)
    val store = new StoreRounds(spark, r, tracer)
    val (_, landS) = seconds(store.land())
    val (_, warmS) = seconds { dedup.pass("warmup", timed = false); store.round("warmup", timed = false) }
    r.out("landing_s") = landS
    r.out("warmup_s") = warmS
    r.out("setup_s") = r.out("session_start_s").asInstanceOf[Double] + landS + warmS
    val iters = mutable.ArrayBuffer.empty[Double]
    for (n <- 1 to timedRounds(o.seconds)) {
      def one() = Seq(dedup.pass(s"iter$n", timed = true), store.round(s"iter$n", timed = true))
      // the iteration span is the parent of every layer call it makes
      val ts = tracer.fold(one())(_.span("iteration")(one()))
      if (ts.forall(_.isDefined)) iters += ts.flatten.sum
    }
    r.out("iters") = iters.toSeq
    r.out("pinned_mb_after") = pinnedMb(spark)
    r.out("scratch_dirs_after") = scratchDirs()
    r.out("input_bytes") = Seq("documents", "embeddings")
      .map(t => dirBytes(new File(s"${o.input}/$t.parquet"))).sum
    dedup.finish()
    store.finish()
  }

  val DedupQueries: Seq[(String, String)] = Seq(
    "ngram_jaccard" -> "dedup_ngram_jaccard", "winnowing" -> "dedup_winnowing",
    "minhash_lsh" -> "dedup_minhash_lsh", "simhash" -> "dedup_simhash",
    "knn_graph" -> "sim_knn_graph")

  /** The five registry entries, in a long-lived session, to the noop
    * sink. After the timed passes one more pass writes each output to
    * parquet for the oracle check, so a frame a timed pass left pinned
    * or cached is what the checked pass reads. */
  final class DedupPasses(spark: SparkSession, r: Run, tracer: Option[Tracer]) {
    private val o = r.o
    private val fns = DedupQueries.map { case (short, name) => (short, name, SparkEntry.queries(name)) }
    private val perQuery = DedupQueries.map(_._2 -> mutable.ArrayBuffer.empty[Double]).toMap
    private def outPath(name: String) = s"${o.run}/out/$name.parquet"

    def pass(label: String, timed: Boolean): Option[Double] = {
      val ts = fns.map { case (short, name, fn) =>
        val t = r.op(s"$label:$name") {
          if (timed) tracer.fold(noop(fn(spark, o.input)))(_.span(s"dedup.$short")(noop(fn(spark, o.input))))
          else noop(fn(spark, o.input))
        }
        if (timed) t.foreach(perQuery(name) += _)
        t
      }
      if (ts.forall(_.isDefined)) Some(ts.flatten.sum) else None
    }

    def finish(): Unit = {
      r.out("per_query_s") = perQuery.map { case (k, v) => k -> median(v.toSeq) }
      fns.foreach { case (_, name, fn) =>
        r.op(s"verify:$name")(fn(spark, o.input).write.mode("overwrite").parquet(outPath(name)))
      }
      val rows = fns.flatMap { case (_, name, _) =>
        scala.util.Try(spark.read.parquet(outPath(name)).count()).toOption.map(name -> _)
      }.toMap
      r.out("oracle_sql") = DedupQueries.map(_._2).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      r.out("out_rows") = rows
      tracer.foreach { t =>
        t.drain()
        val cores = spark.sparkContext.defaultParallelism
        DedupQueries.foreach { case (short, name) =>
          val ws = t.spansNamed(s"dedup.$short").map(t.work)
          def m(f: Work => Double) = median(ws.map(f))
          val joinRows = m(_.plans.joinRows.toDouble)
          val outRows = rows.getOrElse(name, 0L).toDouble
          r.layers ++= Seq("s" -> m(_.s), "driver_s" -> m(_.driverS), "jobs" -> m(_.jobs.toDouble),
            "tasks" -> m(_.tasks.toDouble), "task_s" -> m(_.taskS), "max_task_s" -> m(_.maxTaskS),
            "core_util" -> m(_.coreUtil(cores)), "shuffle_bytes" -> m(_.shuffleBytes.toDouble),
            "spill_bytes" -> m(_.spillBytes.toDouble), "join_rows" -> joinRows, "out_rows" -> outRows,
            "out_per_join_row" -> (if (joinRows > 0) outRows / joinRows else 0.0)
          ).map { case (k, v) => s"dedup.$short.$k" -> v }
        }
        r.layers("dedup.pinned_mb_after") = r.out("pinned_mb_after").asInstanceOf[Double]
        r.layers("dedup.scratch_dirs_after") = r.out("scratch_dirs_after").asInstanceOf[Int].toDouble
      }
    }
  }

  // ---- dedup_store: store rounds ---------------------------------------

  val Key = "doc_id"
  val Verbs: Seq[String] = Seq("append", "maintain", "read", "lookup", "changes")
  /** Per-round batch sizes as shares of the live keys. With the maintain
    * policy below (minor at 2 live deltas, major past 10% delta rows) a
    * 4.2% round makes a 3-round cycle — nothing, minor fold, major fold
    * — starting at the warm-up round, so at `--seconds 10` a run's two
    * timed rounds are a minor and a major fold. The kinds are recorded,
    * not used to decide anything. */
  val UpsertShare = 0.028
  val InsertShare = 0.010
  val DeleteShare = 0.004

  /** A CorpusStore with stats and bloom manifests on `doc_id`, landed
    * by `init` from the documents; each round appends a batch, runs
    * `maintain`, a full `read` to noop, a bloom `lookup` and
    * `changesSince` the previous seq, both collected to the driver as a
    * caller would. Every batch and every round's lookup and change rows
    * are logged for the oracle. */
  final class StoreRounds(spark: SparkSession, r: Run, tracer: Option[Tracer]) {
    import spark.implicits._
    private val o = r.o
    private val dir = s"${o.run}/store"
    private val docs = spark.read.parquet(s"${o.input}/documents.parquet")
    private val live = mutable.ArrayBuffer.empty[Long]
    private var baseKeys = IndexedSeq.empty[Long]
    private var nextKey = 0L
    private var seq = 0L
    private val batchLog = new java.io.PrintWriter(new File(o.run, "batches.jsonl"), "UTF-8")
    private val roundLog = new java.io.PrintWriter(new File(o.run, "rounds.jsonl"), "UTF-8")
    private val verbS = Verbs.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    private val kinds = mutable.ArrayBuffer.empty[String]
    private val liveDeltas = mutable.ArrayBuffer.empty[Double]

    private def span[A](name: String)(body: => A): A =
      tracer.fold(body)(_.span(s"store.$name")(body))

    def land(): Unit = {
      r.op("init")(CorpusStore.init(docs, dir, statsCols = Seq(Key), bloomCols = Seq(Key)))
      // the driver keeps the key set, so batches are drawn from live keys
      live ++= docs.select(Key).as[Long].collect().sorted
      baseKeys = live.toIndexedSeq
      nextKey = live.max + 1
    }

    /** The next batch, logged for the oracle: (seq, upserts, delete
      * keys, lookup keys — half from the batch, half from the base). */
    private def nextBatch(): (Long, DataFrame, DataFrame, Seq[Long]) = {
      seq += 1
      val rnd = new java.util.SplittableRandom(o.seed * 1000003L + seq)
      val n = live.size
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.round((UpsertShare + DeleteShare) * n)) picked += live(rnd.nextInt(n))
      val (upKeys, delKeys) = picked.toSeq.splitAt(math.round(UpsertShare * n).toInt)
      val newKeys = (0L until math.round(InsertShare * n)).map(nextKey + _)
      nextKey += newKeys.size
      val langs = Array("en", "zh", "es", "fr", "de")
      val rows = (upKeys ++ newKeys).map { k =>
        val text = s"rev$seq doc$k " + Seq.fill(5 + rnd.nextInt(20))(s"w${rnd.nextInt(4000)}").mkString(" ")
        (k, text, langs(rnd.nextInt(5)), s"src${rnd.nextInt(20)}", text.length.toLong)
      }
      batchLog.println(Json.obj("seq" -> seq, "upserts" -> rows.map(x => Seq(x._1, x._2, x._3, x._4, x._5)),
        "deletes" -> delKeys))
      batchLog.flush()
      val probe = (rows.take(8).map(_._1) ++ Seq.fill(8)(baseKeys(rnd.nextInt(baseKeys.size)))).distinct
      val gone = delKeys.toSet
      live.filterInPlace(k => !gone(k))
      live ++= newKeys
      (seq, rows.toDF(Key, "text", "lang", "source", "n_chars"), delKeys.toDF(Key), probe)
    }

    /** A frame's column names and rows, collected. */
    private def collected(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
      (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))

    private def logRound(s: Long, kind: String, probe: Seq[Long],
        found: Option[(Seq[String], Seq[Seq[Any]])], changed: Option[(Seq[String], Seq[Seq[Any]])]): Unit = {
      def table(t: Option[(Seq[String], Seq[Seq[Any]])]) = t.map { case (c, rs) => Map("cols" -> c, "rows" -> rs) }
      roundLog.println(Json.obj("seq" -> s, "kind" -> kind, "probe" -> probe,
        "lookup" -> table(found), "changes" -> table(changed)))
      roundLog.flush()
    }

    /** One round: the five verbs in order; its wall time when every verb
      * succeeded. The lookup and change rows are logged after the timed
      * verbs. */
    def round(label: String, timed: Boolean): Option[Double] = {
      val (s, ups, dels, probe) = nextBatch()
      var kind = "failed"
      var found, changed = Option.empty[(Seq[String], Seq[Seq[Any]])]
      val times = Seq(
        "append" -> (() => span("append")(CorpusStore.append(spark, dir, s, Key, ups, Some(dels)))),
        "maintain" -> (() => kind = span("maintain")(
          CorpusStore.maintain(spark, dir, Key, maxLiveDeltas = 2, maxDeltaToBaseRatio = 0.1))),
        "read" -> (() => {
          if (tracer.isDefined) liveDeltas += CorpusStore.describe(spark, dir)
            .filter($"kind" === "delta").count().toDouble
          span("read")(noop(CorpusStore.read(spark, dir, Key)))
        }),
        "lookup" -> (() => found = Some(span("lookup")(collected(CorpusStore.lookup(spark, dir, Key, probe))))),
        "changes" -> (() => changed = Some(span("changes")(
          collected(CorpusStore.changesSince(spark, dir, Key, s - 1)))))
      ).map { case (v, f) => v -> r.op(s"$label:$v")(f()) }
      logRound(s, kind, probe, found, changed)
      if (timed) {
        times.foreach { case (v, t) => t.foreach(verbS(v) += _) }
        kinds += kind
      }
      if (times.forall(_._2.isDefined)) Some(times.flatMap(_._2).sum) else None
    }

    def finish(): Unit = {
      r.out("verbs") = verbS.map { case (k, v) => k -> v.toSeq }
      r.out("maintain_kinds") = kinds.toSeq
      // untimed: one more batch, left unfolded, so the checked lookup,
      // change feed and read also resolve a live delta over whatever the
      // timed rounds folded
      val (s, ups, dels, probe) = nextBatch()
      batchLog.close()
      var found, changed = Option.empty[(Seq[String], Seq[Seq[Any]])]
      r.op("verify:append")(CorpusStore.append(spark, dir, s, Key, ups, Some(dels)))
      r.op("verify:lookup") { found = Some(collected(CorpusStore.lookup(spark, dir, Key, probe))) }
      r.op("verify:changes") { changed = Some(collected(CorpusStore.changesSince(spark, dir, Key, s - 1))) }
      logRound(s, "unmaintained", probe, found, changed)
      roundLog.close()
      // the final state for the oracle, written once as fresh parquet —
      // also the denominator of space amplification
      val finalPath = s"${o.run}/out/final.parquet"
      r.op("verify:read") {
        CorpusStore.read(spark, dir, Key).write.mode("overwrite").parquet(finalPath)
        r.out("space_amp") = dirBytes(new File(dir)).toDouble / dirBytes(new File(finalPath))
      }
      tracer.foreach { t =>
        t.drain()
        // the first span of each verb is the warm-up round's
        def timedWork(v: String) = t.spansNamed(s"store.$v").drop(1).map(t.work)
        Verbs.foreach { v =>
          val ws = timedWork(v)
          def m(f: Work => Double) = median(ws.map(f))
          r.layers ++= Seq("s" -> m(_.s), "driver_s" -> m(_.driverS), "jobs" -> m(_.jobs.toDouble),
            "fs_calls" -> m(_.fsCalls.toDouble), "files_read" -> m(_.plans.filesRead.toDouble)
          ).map { case (k, x) => s"store.$v.$k" -> x }
        }
        val appendOut = timedWork("append").map(_.outputBytes).sum.toDouble
        val maintainWs = timedWork("maintain")
        val maintainOut = maintainWs.map(_.outputBytes).sum.toDouble
        r.layers("store.read.live_deltas") = median(liveDeltas.drop(1).toSeq)
        r.layers("store.maintain.minor") = kinds.count(_ == "minor").toDouble
        r.layers("store.maintain.major") = kinds.count(_ == "major").toDouble
        r.layers("store.maintain.bytes_rewritten") =
          if (maintainWs.isEmpty) 0.0 else maintainOut / maintainWs.size
        r.layers("store.write_amp") = if (appendOut > 0) (appendOut + maintainOut) / appendOut else 0.0
        r.layers("store.pinned_mb_after") = r.out("pinned_mb_after").asInstanceOf[Double]
        r.layers("store.scratch_dirs_after") = r.out("scratch_dirs_after").asInstanceOf[Int].toDouble
      }
    }
  }
}
