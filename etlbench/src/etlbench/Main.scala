package etlbench

import graft.SparkEntry
import graft.etl.{MigrationLog, Pipeline}
import graft.ops.SharedCaches
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side: one closed-loop client on a
  * `local[cores]` session runs one workload (README.md) and prints one
  * JSON result line. Layers are timed from outside, around calls into
  * their public functions; `--trace 1` adds the listeners of [[Trace]]
  * and reports the per-layer metrics instead of the end-to-end ones.
  */
object Main {

  // ---- workloads: query lists pinned by name (README.md says why) ----

  val Relational: Seq[String] = Seq(
    // CoreQueries
    "q_scan_project", "q_filter_pushdown", "q_agg_groupby", "q_join_agg",
    "q_fk_orphans", "q_rename_drop_cast", "q_sort_limit", "q_set_ops",
    "q_window_topk", "q_rollup", "q_quantile_profile", "q_histogram",
    "q_pivot", "q_string_funcs", "q_date_funcs",
    // ProfileQueries
    "q_type_narrowing_stats", "q_varchar_maxlen", "q_null_profile",
    "q_corr_profile", "q_cardinality_sketch", "q_quantile_sketch",
    "q_k_anonymity",
    // EventQueries
    "q_event_window", "q_json_extract", "q_event_sessionize",
    "q_event_funnel", "q_event_anomaly",
    // AsOfJoin
    "q_asof_join",
    // JoinQueries
    "q_semi_join", "q_range_join", "q_skew_join", "q_fuzzy_join")

  val Corpus: Seq[String] = Seq(
    // DedupQueries: minhash family and CC fixpoint loop; stored band index
    "q_dedup_clusters", "q_dedup_incremental",
    // GraphQueries: a second minhash-family consumer (shared-cache reuse)
    "q_dup_triangles",
    // SimilarityQueries: k-means driver loop; stored IVF index
    "q_kmeans_refine", "q_ann_ivf",
    // ImageDedup, CorpusQueries: stored image signatures, lexical index
    "q_dedup_image", "q_bm25")

  /** The registry's modules, in [[graft.Registry]] order. */
  lazy val modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.defs,
    "ProfileQueries" -> graft.queries.ProfileQueries.defs,
    "DedupQueries" -> graft.ops.DedupQueries.defs,
    "SpanDedup" -> graft.ops.SpanDedup.defs,
    "SimilarityQueries" -> graft.ops.SimilarityQueries.defs,
    "TextQueries" -> graft.ops.TextQueries.defs,
    "EventQueries" -> graft.ops.EventQueries.defs,
    "AsOfJoin" -> graft.ops.AsOfJoin.defs,
    "JoinQueries" -> graft.ops.JoinQueries.defs,
    "SampleQueries" -> graft.ops.SampleQueries.defs,
    "PackingQueries" -> graft.ops.PackingQueries.defs,
    "MultimodalQueries" -> graft.ops.MultimodalQueries.defs,
    "ImageDedup" -> graft.ops.ImageDedup.defs,
    "AudioDedup" -> graft.ops.AudioDedup.defs,
    "VideoDedup" -> graft.ops.VideoDedup.defs,
    "CorpusQueries" -> graft.ops.CorpusQueries.defs,
    "GovernanceQueries" -> graft.ops.GovernanceQueries.defs,
    "SelectionQueries" -> graft.ops.SelectionQueries.defs,
    "BpeQueries" -> graft.ops.BpeQueries.defs,
    "GraphQueries" -> graft.ops.GraphQueries.defs)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  // ---- migrate: the lifecycle's inputs ----

  val ForeignKeys: Seq[Pipeline.ForeignKey] = Seq(
    Pipeline.ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
    Pipeline.ForeignKey("lineitem", "l_partkey", "part", "p_partkey"),
    Pipeline.ForeignKey("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    Pipeline.ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
    Pipeline.ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
    Pipeline.ForeignKey("supplier", "s_nationkey", "nation", "n_nationkey"),
    Pipeline.ForeignKey("nation", "n_regionkey", "region", "r_regionkey"))

  val Docs = Seq("documents")
  /** The stored families the lifecycle builds, one `artifactPhase`
    * call each: three whose read paths the corpus workload runs and
    * that have both delete and relevel verbs (README.md says why not
    * all 13). */
  val Families: Seq[(String, Pipeline.ArtifactConfig)] = Seq(
    "band_index" -> Pipeline.ArtifactConfig(bandIndexTables = Docs),
    "lex_index" -> Pipeline.ArtifactConfig(lexIndexTables = Docs),
    "image_sig_store" -> Pipeline.ArtifactConfig(imageSigTables = Docs))

  /** deleteDocs / relevelArtifacts report kinds -> built family kind. */
  val DeleteKinds: Map[String, String] = Map(
    "delete_band_index" -> "band_index", "delete_lex_index" -> "lex_index",
    "delete_image_sigs" -> "image_sig_store")
  val RelevelKinds: Map[String, String] = Map(
    "relevel_lex_index" -> "lex_index", "relevel_band_index" -> "band_index",
    "relevel_image_sigs" -> "image_sig_store")

  /** Stop starting passes this long after JVM start (run limit: 180 s). */
  val PassCutoffS = 120.0

  final case class Conf(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, scale: Double, dataSeed: Long,
                        data: String, work: String, expected: String,
                        record: Boolean, spans: Option[String])

  /** One timed operation: a query (construct + execute) or a lifecycle
    * report row. */
  final case class Op(name: String, layer: String, construct: Double,
                      execute: Double, ok: Boolean) {
    def seconds: Double = construct + execute
  }

  /** One pass over a workload's operations. */
  final case class Pass(wallS: Double, ops: Seq[Op],
                        layer: Map[String, Double] = Map.empty)

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Conf(m("--workload"), m("--seed").toLong, m("--seconds").toInt,
      m("--trace") == "1", m("--scale").toDouble, m("--data-seed").toLong,
      m("--data"), m("--work"), m("--expected"), m("--record") == "1",
      m.get("--spans"))
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val genS = ensureData(spark, conf.data, conf.scale, conf.dataSeed)
    val trace = if (conf.trace) Some(Trace.register(spark)) else None
    val bench = new Bench(spark, conf, cores, jvmStartMs, genS, trace)
    val result =
      try bench.run()
      catch { case NonFatal(e) =>
        e.printStackTrace()
        bench.failure(e)
      }
    conf.spans.foreach(p => Files.writeString(Paths.get(p), bench.spans.toJson))
    spark.stop()
    println(result.json)
    sys.exit(if (result.correct) 0 else 1)
  }

  /** Write the inputs once per checkout; return the seconds it took. */
  def ensureData(spark: SparkSession, dir: String, scale: Double,
                 seed: Long): Double = {
    val done = Paths.get(dir, "_COMPLETE")
    if (Files.exists(done)) return 0.0
    val t0 = System.nanoTime()
    val tmp = s"$dir.tmp${ProcessHandle.current().pid()}"
    DataGen.write(spark, tmp, scale, seed)
    Files.writeString(Paths.get(tmp, "_COMPLETE"), s"scale=$scale seed=$seed\n")
    Files.move(Paths.get(tmp), Paths.get(dir))
    (System.nanoTime() - t0) / 1e9
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)]) {
    def json: String = {
      val ms = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirBytes(p: String): Long = DataGen.bytesUnder(new java.io.File(p))

  def dirFiles(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L }
    else Option(f.listFiles()).map(_.map(dirFiles).sum).getOrElse(0L)

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One run of one workload. */
final class Bench(spark: SparkSession, conf: Main.Conf, cores: Int,
                  jvmStartMs: Long, genS: Double, trace: Option[Trace]) {
  import Main._

  val spans = new Spans(spark)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var residentPeakMb = 0.0

  private def fail(msg: String): Unit = {
    System.err.println(s"[etlbench] FAILED: $msg")
    failures += msg
  }

  private def elapsedS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def failure(e: Throwable): Main.Result = {
    fail(s"run aborted: $e")
    Main.Result(correct = false, math.max(1L, attempted), failures.size.toLong, Nil)
  }

  def run(): Main.Result = conf.workload match {
    case "relational" => queries(Relational, stores = false)
    case "corpus" => queries(Corpus, stores = true)
    case "migrate" => migrate()
    case w => sys.error(s"unknown workload $w")
  }

  // ---- timed passes ----

  /** Passes until `--seconds` have elapsed (at least one). */
  private def timedPasses(pass: Int => Pass): Seq[Pass] = {
    val deadline = System.nanoTime() + conf.seconds * 1000000000L
    val out = mutable.ArrayBuffer.empty[Pass]
    while (out.isEmpty || (System.nanoTime() < deadline && elapsedS < PassCutoffS))
      out += pass(out.size + 1)
    out.toSeq
  }

  // ---- relational / corpus ----

  private lazy val expected: Map[String, (Long, String)] = {
    val p = Paths.get(conf.expected)
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }
  private val observed = mutable.Map.empty[String, (Long, String)]

  /** Release points for `order`: each SharedCaches family is released
    * after its last consumer in this run's order. */
  private def releasePoints(order: Seq[String]): Map[String, Seq[String]] = {
    val pos = order.zipWithIndex.toMap
    SharedCaches.consumers.toSeq.flatMap { case (fam, cs) =>
      cs.toSeq.filter(pos.contains).sortBy(pos).lastOption.map(_ -> fam)
    }.groupBy(_._1).map { case (q, fs) => q -> fs.map(_._2).sorted }
  }

  private def runQuery(name: String): Op = {
    val layer = s"Registry.${moduleOf.getOrElse(name, "Unknown")}"
    attempted += 1
    try {
      val ((c, d, e), _) = spans(name, layer) {
        val (df, c) = spans("construct", layer)(SparkEntry.queries(name)(spark, conf.data))
        val (d, e) = spans("execute", layer)(Digest(df))
        (c, d, e)
      }
      observed.get(name) match {
        case Some(prev) if prev != d => fail(s"$name: digest changed between passes")
        case _ => observed(name) = d
      }
      if (!conf.record && !expected.get(name).contains(d))
        fail(s"$name: digest $d != recorded ${expected.get(name)}")
      Op(name, layer, c, e, ok = true)
    } catch { case NonFatal(e) =>
      fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
      Op(name, layer, 0.0, 0.0, ok = false)
    }
  }

  private def queryPass(order: Seq[String]): Pass = {
    val release = releasePoints(order)
    spark.sharedState.cacheManager.clearCache()
    var releaseS = 0.0
    val t0 = System.nanoTime()
    val ops = order.map { n =>
      val op = runQuery(n)
      release.getOrElse(n, Nil).foreach { fam =>
        if (trace.isDefined) residentPeakMb = math.max(residentPeakMb,
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
        val r0 = System.nanoTime()
        SharedCaches.release(fam)
        releaseS += (System.nanoTime() - r0) / 1e9
      }
      op
    }
    Pass((System.nanoTime() - t0) / 1e9, ops, Map("SharedCaches.release_s" -> releaseS))
  }

  private def tableCreateTimes(): Map[String, Long] = {
    val cat = spark.sessionState.catalog
    cat.listTables("default").map(t => t.table -> cat.getTableMetadata(t).createTime).toMap
  }

  private def queries(list: Seq[String], stores: Boolean): Main.Result = {
    list.filterNot(moduleOf.contains).foreach(n => fail(s"$n is not in the registry"))
    // fixed order: a seeded one moved cold JIT cost between queries and
    // made op_p50_s depend on the seed
    val order = list.sorted
    // like a batch job, the first pass is timed from a fresh JVM: JIT,
    // code generation and (corpus) the builds of the stored artifacts the
    // queries read are part of it
    val setupS = elapsedS - genS
    val before = tableCreateTimes()
    val passes = timedPasses(_ => queryPass(order))
    val built = tableCreateTimes().count { case (t, ct) =>
      !before.get(t).contains(ct) }
    if (conf.record) recordDigests()
    val times = passes.flatMap(_.ops.filter(_.ok).map(_.seconds))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    layer("query.construct_s") = median(passes.map(_.ops.map(_.construct).sum))
    layer("query.execute_s") = median(passes.map(_.ops.map(_.execute).sum))
    modules.foreach { case (m, _) =>
      layer(s"Registry.$m.construct_s") = median(passes.map(
        _.ops.filter(_.layer == s"Registry.$m").map(_.construct).sum))
      layer(s"Registry.$m.execute_s") = median(passes.map(
        _.ops.filter(_.layer == s"Registry.$m").map(_.execute).sum))
    }
    layer("SharedCaches.release_s") = median(passes.map(_.layer("SharedCaches.release_s")))
    layer("SharedCaches.resident_peak_mb") = residentPeakMb
    layer("store.tables_built") = built.toDouble
    if (stores) layer("store.files") = dirFiles(new java.io.File(s"${conf.work}/warehouse")).toDouble
    finish(setupS, passes, times, layer.toMap)
  }

  private def recordDigests(): Unit = {
    val prev = (expected -- observed.keys).filter { case (n, _) =>
      Relational.contains(n) || Corpus.contains(n) }
    val lines = (prev ++ observed).toSeq.sortBy(_._1).map { case (n, (r, d)) => s"$n\t$r\t$d" }
    Files.writeString(Paths.get(conf.expected),
      s"# query\trows\tdigest (scale=${conf.scale}, data seed=${conf.dataSeed})\n" +
        lines.mkString("", "\n", "\n"))
  }

  // ---- migrate ----

  private def storeTables(out: String): Seq[String] = {
    val prefix = graft.ops.BandIndex.tag(out, "")
    spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(prefix))
  }

  private def logSeconds(log: String, phase: String => Boolean): Double = {
    val Done = "done in ([0-9.]+)s".r
    scala.io.Source.fromFile(log).getLines().map(_.split("\t", 5)).collect {
      case Array(_, _, _, ph, Done(s)) if phase(ph) => s.toDouble
    }.sum
  }

  private val countsRe = "([a-z_]+_rows_removed)=([0-9]+)".r

  /** One lifecycle pass from a fresh output dir. Ops are the report
    * rows: per-table migration, per-family build, delete and relevel. */
  private def lifecycle(k: String): Pass = {
    val data = conf.data
    val out = s"${conf.work}/out/$k"
    val logPath = s"${conf.work}/log-$k.tsv"
    Files.createDirectories(Paths.get(conf.work, "out"))
    val log = MigrationLog.toFile(Paths.get(logPath))
    val ops = mutable.ArrayBuffer.empty[Op]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String, layerName: String)(f: => T): Option[(T, Double)] = {
      attempted += 1
      try {
        val r = spans(name, layerName)(f)
        System.err.println(f"[etlbench] $k $name ${r._2}%.2fs")
        Some(r)
      } catch { case NonFatal(e) =>
        fail(s"$k $name threw ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    }
    // 1. migrate the ten tables with FK validation
    val inBytes = dirBytes(data)
    step("migrate", "graft.etl.Pipeline") {
      Pipeline.migrate(spark, Pipeline.SourceConfig(dir = data), out,
        ForeignKeys, parallelism = cores, log = log)
    }.foreach { case (report, s) =>
      layer("etl.migrate_s") = s
      val want = DataGen.rowCounts(conf.scale)
      if (report.tables.map(_.table).sorted != DataGen.Tables.sorted)
        fail(s"$k migrate: tables ${report.tables.map(_.table)}")
      report.tables.foreach { t =>
        if (!want.get(t.table).contains(t.rowsOut))
          fail(s"$k migrate: ${t.table} rows ${t.rowsOut} != ${want.get(t.table)}")
        ops += Op(s"migrateTable.${t.table}", "graft.etl", 0.0, t.wallSeconds, ok = true)
        layer(s"etl.migrateTable.${t.table}_s") = t.wallSeconds
      }
      if (report.fks.size != ForeignKeys.size || report.fks.exists(_.orphanCount != 0))
        fail(s"$k migrate: FK results ${report.fks}")
    }
    layer("etl.write_s") = logSeconds(logPath, _ == "write")
    layer("etl.fk_s") = logSeconds(logPath, _.startsWith("fk "))
    // 2. the stored families, one after another, from a fresh namespace
    if (storeTables(out).nonEmpty) fail(s"$k: stored tables existed before artifactPhase")
    val wh = s"${conf.work}/warehouse"
    var buildS = 0.0
    Families.foreach { case (kind, cfg) =>
      val b0 = dirBytes(wh) + dirBytes(out)
      step(kind, "store.build")(Pipeline.artifactPhase(spark, out, cfg, log)).foreach {
        case (rows, s) =>
          if (rows.map(_.kind) != Seq(kind)) fail(s"$k $kind: artifact rows ${rows.map(_.kind)}")
          ops += Op(s"build.$kind", "store.build", 0.0, s, ok = true)
          buildS += s
          layer(s"store.$kind.build_s") = s
          layer(s"store.$kind.bytes") = (dirBytes(wh) + dirBytes(out) - b0).toDouble
      }
    }
    layer("store.build_s") = buildS
    layer("store.files") = (dirFiles(new java.io.File(wh)) +
      dirFiles(new java.io.File(out))).toDouble
    layer("store.bytes_per_input_byte") = (dirBytes(wh) + dirBytes(out)).toDouble / inBytes
    // 3. takedown of a seeded ~1% doc sample
    val ids = spark.read.parquet(s"$out/documents.parquet").select("doc_id")
      .where(pmod(xxhash64(col("doc_id"), lit(conf.seed)), lit(100L)) === 0)
      .collect().map(_.getAs[Number](0).longValue).toSeq
    if (ids.isEmpty) fail(s"$k takedown: empty sample")
    import spark.implicits._
    val idDf = ids.toDF("doc_id")
    // rows of the sample in every stored table, in one job
    def sampleRows(): Map[String, Long] = storeTables(out).flatMap { t =>
      val df = spark.table(t)
      Seq("doc_id", "vec_id").find(df.columns.contains).map(c =>
        df.where(col(c).isin(ids: _*)).agg(count(lit(1)).as("n"))
          .select(lit(t).as("t"), col("n")))
    }.reduceOption(_ union _).map(_.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
    val before = sampleRows()
    step("takedown", "store.delete") {
      Pipeline.deleteDocs(spark, out, idDf, lexTables = Docs, log = log)
    }.foreach { case (rows, s) =>
      layer("store.delete_s") = s
      if (rows.map(_.kind).sorted != DeleteKinds.keys.toSeq.sorted)
        fail(s"$k takedown: rows ${rows.map(_.kind)}")
      rows.foreach { r =>
        ops += Op(r.kind, "store.delete", 0.0, r.wallSeconds, ok = true)
        DeleteKinds.get(r.kind).foreach(f => layer(s"store.$f.delete_s") = r.wallSeconds)
      }
      val after = sampleRows()
      after.filter(_._2 != 0).foreach { case (t, n) => fail(s"$k takedown: $t keeps $n sampled rows") }
      val reported = rows.flatMap(r => countsRe.findAllMatchIn(r.detail).map(_.group(2).toLong)).sum
      val removed = before.map { case (t, n) => n - after.getOrElse(t, 0L) }.sum
      if (reported != removed) fail(s"$k takedown: reported $reported rows removed, observed $removed")
    }
    // 4. relevel the families that can go stale
    step("relevel", "store.relevel") {
      Pipeline.relevelArtifacts(spark, out, lexTables = Docs, log = log)
    }.foreach { case (rows, s) =>
      layer("store.relevel_s") = s
      if (rows.map(_.kind).sorted != RelevelKinds.keys.toSeq.sorted)
        fail(s"$k relevel: rows ${rows.map(_.kind)}")
      rows.foreach { r =>
        ops += Op(r.kind, "store.relevel", 0.0, r.wallSeconds, ok = true)
        RelevelKinds.get(r.kind).foreach(f => layer(s"store.$f.relevel_s") = r.wallSeconds)
      }
    }
    val wall = Seq("etl.migrate_s", "store.build_s", "store.delete_s", "store.relevel_s")
      .map(layer.getOrElse(_, 0.0)).sum
    Pass(wall, ops.toSeq, layer.toMap)
  }

  /** The lifecycle runs cold, as a migration job does in a fresh JVM:
    * set-up is the session start alone. */
  private def migrate(): Main.Result = {
    val setupS = elapsedS - genS
    val passes = timedPasses(i => lifecycle(s"p$i"))
    val times = passes.flatMap(_.ops.map(_.seconds))
    val keys = passes.flatMap(_.layer.keys).distinct
    val layer = keys.map(k => k -> median(passes.flatMap(_.layer.get(k)))).toMap
    finish(setupS, passes, times, layer)
  }

  // ---- result ----

  private def finish(setupS: Double, passes: Seq[Pass], opTimes: Seq[Double],
                     layer: Map[String, Double]): Main.Result = {
    val suite = median(passes.map(_.wallS))
    val rss = peakRssMb()
    val failed = failures.size.toLong
    val metrics =
      if (!conf.trace) Seq(
        ("setup_s", setupS, "s"),
        ("suite_s", suite, "s"))
      else perLayer(layer, passes.size) ++ Seq(
        ("error_rate", failed.toDouble / math.max(1L, attempted), "ratio"),
        ("trace.suite_s", suite, "s"),
        ("op_p50_s", median(opTimes), "s"),
        ("peak_rss_mb", rss, "MB"))
    System.err.println(f"[etlbench] ${conf.workload}: ${passes.size} passes, " +
      f"${opTimes.size} ops, pass walls ${passes.map(p => f"${p.wallS}%.2f").mkString(" ")}")
    Main.Result(failures.isEmpty, math.max(1L, attempted), failed, metrics)
  }

  private def perLayer(layer: Map[String, Double],
                       nPasses: Int): Seq[(String, Double, String)] = {
    val t = trace.get
    val (all, unattributed) = t.totals(spans)
    def sum(f: t.Totals => Long): Double = f(all).toDouble / nPasses
    val reg = modules.flatMap { case (m, _) => Seq(
      (s"Registry.$m.construct_s", "s"), (s"Registry.$m.execute_s", "s")) }
    val store = Families.map(_._1).flatMap(k => Seq(
      (s"store.$k.build_s", "s"), (s"store.$k.bytes", "bytes"))) ++
      DeleteKinds.values.toSeq.sorted.map(k => (s"store.$k.delete_s", "s")) ++
      RelevelKinds.values.toSeq.sorted.map(k => (s"store.$k.relevel_s", "s"))
    val etl = DataGen.Tables.map(t => (s"etl.migrateTable.${t}_s", "s"))
    val named: Seq[(String, String)] =
      Seq(("query.construct_s", "s"), ("query.execute_s", "s")) ++ reg ++
        Seq(("SharedCaches.release_s", "s"), ("SharedCaches.resident_peak_mb", "MB")) ++
        store ++ Seq(("store.files", "count"), ("store.tables_built", "count"),
          ("store.build_s", "s"), ("store.delete_s", "s"), ("store.relevel_s", "s"),
          ("store.bytes_per_input_byte", "ratio")) ++
        etl ++ Seq(("etl.write_s", "s"), ("etl.fk_s", "s"), ("etl.migrate_s", "s"))
    named.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) } ++ Seq(
      ("spark.jobs", sum(_.jobs), "count"),
      ("spark.stages", sum(_.stages), "count"),
      ("spark.tasks", sum(_.tasks), "count"),
      ("spark.unattributed_jobs", unattributed.jobs.toDouble, "count"),
      ("spark.no_job_s", spans.all.filter(_.parent == 0)
        .map(s => t.noJobSeconds(s.startMs, s.endMs)).sum / nPasses, "s"),
      ("spark.scheduler_delay_s", sum(_.schedulerDelayMs) / 1000.0, "s"),
      ("spark.executor_run_s", sum(_.runMs) / 1000.0, "s"),
      ("spark.executor_cpu_s", sum(_.cpuNs) / 1e9, "s"),
      ("spark.gc_s", sum(_.gcMs) / 1000.0, "s"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWrite), "bytes"),
      ("spark.shuffle_read_bytes", sum(_.shuffleRead), "bytes"),
      ("spark.spill_bytes", sum(_.spill), "bytes"),
      ("spark.input_bytes", sum(_.input), "bytes"),
      ("spark.output_bytes", sum(_.output), "bytes"),
      ("sql.exchanges", sum(_.exchanges), "count"),
      ("sql.nested_loop_joins", sum(_.nestedLoopJoins), "count"),
      ("sql.windows", sum(_.windows), "count"),
      ("sql.codegen_stages", sum(_.codegenStages), "count"),
      ("sql.scan_files", sum(_.scanFiles), "count"))
  }
}
