package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.Converter
import graft.ops._

/** One benchmark run in a fresh JVM: a single-client closed loop over one
  * workload (`catalog_sweep` or `store_ingest_serve`). Every timed op consumes its whole result and checks it; the
  * records (ops, setup phases, checks and, in a traced run, per-op Spark
  * spans) stay in memory and are written to `<work>/records.jsonl` at
  * exit for `run.py` to reduce into metrics.
  *
  * Usage: Harness <workload> <inputs> <work> <seed> <seconds> <trace 0|1>
  *   <reference tsv> [record]
  * With `record`, the workload writes its reference instead of checking
  * against it. The workload `startup` only starts and stops the session
  * (the build dumps the class-data archive from it).
  */
object Harness {

  /** Collects the run's records. The measured period starts at the first
    * timed op and lasts `seconds`. */
  final class Recorder(spark: SparkSession, traced: Boolean, seconds: Long) {
    val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
    val lines = mutable.ArrayBuffer.empty[String]
    var firstOpMs: Long = -1L
    private var firstOpNanos: Long = -1L

    /** True once the measured period has run out. */
    def expired: Boolean =
      firstOpNanos >= 0 && System.nanoTime() - firstOpNanos >= seconds * 1000000000L
    /** Result rows of the running op, when its body reports them. */
    var rows: Long = -1L
    private var n = 0

    def emit(fields: (String, Any)*): Unit = lines += Json.obj(fields: _*)

    /** Times `body`, which returns None when its output checked out and
      * Some(reason) when it did not. An exception is a failed op. */
    def op[T](kind: String, name: String, layer: String)(body: => (T, Option[String]))
        : Option[T] = {
      n += 1
      val span = s"op$n"
      rows = -1L
      // events of setup jobs still in flight must not reach the first span
      if (n == 1) tracer.foreach { t => t.drain(); t.close() }
      val cg0 = if (traced) Tracer.codegen() else (0L, 0L)
      tracer.foreach(_.open(span))
      val startMs = System.currentTimeMillis()
      if (firstOpMs < 0) firstOpMs = startMs
      val t0 = System.nanoTime()
      if (firstOpNanos < 0) firstOpNanos = t0
      val (out, err) =
        try { val (v, bad) = body; (Some(v), bad) }
        catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val traceFields = tracer.map { t =>
        t.drain()
        t.close()
        val cg1 = Tracer.codegen()
        val r = t.spanRecord(span)
        r("codegen_s") = (cg1._1 - cg0._1) / 1e9
        r("codegen_classes") = cg1._2 - cg0._2
        r
      }
      err.foreach(e => System.err.println(s"[perfbench] $kind $name FAILED: $e"))
      emit(Seq("type" -> "op", "kind" -> kind, "name" -> name, "layer" -> layer,
        "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
        "ok" -> err.isEmpty, "error" -> err.orNull) ++
        Option(rows).filter(_ >= 0).map(r => "rows" -> r).toSeq ++
        traceFields.map(f => "span" -> f).toSeq: _*)
      if (err.isEmpty) out else None
    }

    /** An untimed check outside any op (setup, final verification). */
    def check(name: String, err: Option[String]): Unit = {
      err.foreach(e => System.err.println(s"[perfbench] check $name FAILED: $e"))
      emit("type" -> "check", "name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull)
    }

    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = body
      synchronized {
        emit("type" -> "setup", "name" -> name, "wall_s" -> (System.nanoTime() - t0) / 1e9)
      }
      v
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seedS, secondsS, traceS) = args.take(6)
    val reference = args.lift(6)
    val recording = args.lift(7).contains("record")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, traceS == "1", secondsS.toLong)
    val tmp = new File(sys.props("java.io.tmpdir"))
    def tmpEntries: Set[String] = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
    val tmpBase = tmpEntries
    val rddBase = spark.sparkContext.getPersistentRDDs.keySet
    try workload match {
      case "catalog_sweep" => Catalog.run(spark, rec, inputs, seedS.toLong,
        reference.getOrElse(sys.error("catalog_sweep needs a reference file")), recording)
      case "store_ingest_serve" => Store.run(spark, rec, inputs, work,
        reference.getOrElse(sys.error("store_ingest_serve needs a reference file")), recording)
      case "startup" =>
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.check("workload", Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
    rec.emit("type" -> "first_op", "epoch_ms" -> rec.firstOpMs)
    val (cgNs, cgClasses) = Tracer.codegen()
    rec.emit("type" -> "codegen", "compile_s" -> cgNs / 1e9, "classes" -> cgClasses)
    rec.tracer.foreach { t =>
      rec.emit("type" -> "trace", "drain_timeouts" -> t.drainTimeouts)
      t.detach()
    }
    // hygiene: no store root may outlive the run (the store workload
    // deletes its own under `work`), the session's memos are released, and
    // the persistent-RDD map must return to its baseline
    val roots = (tmpEntries -- tmpBase).toSeq.map(new File(tmp, _)) ++
      Seq("store", "store_oneshot").map(new File(work, _))
    val leftRoots = roots.filter(r => new File(r, "_current").exists)
    rec.check("hygiene.store_roots",
      if (leftRoots.isEmpty) None else Some(s"store roots left: ${leftRoots.mkString(", ")}"))
    (tmpEntries -- tmpBase).foreach(n => graft.ops.IndexStore.deleteRec(new File(tmp, n)))
    graft.Core.clearCaches(spark)
    // checkpoints the memos held are released by Spark's ContextCleaner
    // once unreachable: give it a bounded chance before calling a leak
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddBase
    var waits = 0
    while (leaked.nonEmpty && waits < 20) { System.gc(); Thread.sleep(250); waits += 1 }
    val leakedRdds = leaked
    rec.check("hygiene.persistent_rdds",
      if (leakedRdds.isEmpty) None
      else Some(s"${leakedRdds.size} persistent RDDs left: " +
        leakedRdds.toSeq.sorted.take(10).map(id =>
          spark.sparkContext.getPersistentRDDs(id).toString).mkString("; ")))
    spark.stop()
    val pw = new PrintWriter(new File(s"$work/records.jsonl"), "UTF-8")
    try rec.lines.foreach(pw.println) finally pw.close()
  }

  /** Seeded Fisher-Yates, so the order depends on the seed alone. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)
}

/** A fixed sample of the catalog, once per sweep, in a seed-permuted
  * order, after the four warm-phase families have built their session
  * memos and one untimed sweep has run. The sample is every [[Stride]]-th
  * query, by name, of each of the 14 catalog modules, among the queries
  * that read no store fixture.
  * Which queries read a store fixture is found when the reference is
  * recorded: such a query leaves a store root in the tmpdir, and the
  * fixtures are reset after it so the next one is found too. The store
  * layer is measured by the store workload instead. */
object Catalog {
  val Modules: Seq[(String, Map[String, graft.Core.Q])] = Seq(
    "relational" -> Relational.catalog, "functions" -> Functions.catalog,
    "dedup" -> Dedup.catalog, "corpus" -> Corpus.catalog,
    "hygiene" -> Hygiene.catalog, "training" -> Training.catalog,
    "similarity" -> Similarity.catalog, "selection" -> Selection.catalog,
    "subquery" -> Subquery.catalog, "skew" -> Skew.catalog,
    "formats" -> Formats.catalog, "textops" -> TextOps.catalog,
    "multimodal" -> Multimodal.catalog, "pipeline" -> graft.etl.Pipeline.catalog)

  def run(spark: SparkSession, rec: Harness.Recorder, dir: String, seed: Long,
      reference: String, recording: Boolean): Unit = {
    val moduleOf = Modules.flatMap { case (m, c) => c.keys.map(_ -> m) }.toMap
    val oracle = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries
    val ref: Map[String, (Long, String, Boolean)] =
      if (recording) Map.empty
      else Files.readAllLines(Paths.get(reference), UTF_8).asScala.filter(_.nonEmpty)
        .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2), a(3) == "1")).toMap
    val tmp = new File(sys.props("java.io.tmpdir"))
    def tmpEntries: Set[String] = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
    // the four families' memo builds overlap, as in `graft.Bench`'s warm
    // phase: they are job-latency bound, and `Core.memo` locks per key
    val warms: Seq[(String, () => Seq[(String, Double)])] = Seq(
      "similarity" -> (() => Similarity.warm(spark, dir)),
      "textops" -> (() => TextOps.warm(spark, dir)),
      "selection" -> (() => Selection.warm(spark, dir)),
      "dedup" -> (() => Dedup.warm(spark, dir)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warms.size)
    try {
      warms.map { case (fam, f) =>
        pool.submit(() => rec.phase(s"$fam.memo")(f()))
      }.foreach(_.get())
    } finally pool.shutdown()
    rec.emit("type" -> "cached", "bytes" -> cachedBytes(spark))
    val names =
      if (recording) queries.keys.toSeq.sorted
      else sample(ref.collect { case (n, (_, _, false)) if queries.contains(n) => n }.toSeq, moduleOf)
    val order = Harness.permute(names, seed)
    val recorded = mutable.ArrayBuffer.empty[String]

    /** Runs one query, collects and fingerprints its rows; returns the
      * row count and why they do not match the reference. */
    def query(name: String, sweep: Int): (Long, Option[String]) = {
      val before = if (recording) tmpEntries else Set.empty[String]
      val df = queries(name)(spark, dir)
      val rows = df.collect()
      val (n, fp) = Fingerprint.of(df.schema, rows.iterator)
      if (recording && sweep == 0) {
        val store = (tmpEntries -- before).exists(e => new File(tmp, s"$e/_current").exists)
        recorded += s"$name\t$n\t$fp\t${if (store) 1 else 0}"
        if (store) {
          Similarity.resetWarmFixtures(); TextOps.resetWarmFixtures()
          Selection.resetWarmFixtures(); Dedup.resetWarmFixtures()
          (tmpEntries -- before).foreach(e => IndexStore.deleteRec(new File(tmp, e)))
        }
      }
      val bad = ref.get(name) match {
        case _ if recording => None
        case None => Some("no recorded reference")
        case Some((rn, rfp, _)) =>
          if (oracle.contains(name)) (if (fp == rfp) None else Some(s"fingerprint $fp != $rfp"))
          else if (n == rn) None else Some(s"rows $n != $rn")
      }
      (n, bad)
    }

    // setup ends with one untimed, checked sweep: on first-run code a
    // query's latency hangs on which queries ran before it (JIT state),
    // so cold medians move with the seed's order; warm ones do not
    if (!recording) rec.phase("catalog.warmup")(order.foreach { name =>
      val bad = try query(name, -1)._2
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      rec.check(s"warmup.$name", bad)
    })
    var sweep = 0
    while (sweep < MinSweeps || !rec.expired) {
      val t0 = System.nanoTime()
      order.foreach { name =>
        rec.op("query", name, moduleOf.getOrElse(name, "other")) {
          val (n, bad) = query(name, sweep)
          rec.rows = n
          (n, bad)
        }
      }
      rec.emit("type" -> "sweep", "wall_s" -> (System.nanoTime() - t0) / 1e9)
      rec.emit("type" -> "cached", "bytes" -> cachedBytes(spark))
      sweep += 1
    }
    if (recording)
      Files.write(Paths.get(reference), recorded.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  val Stride = 32
  /** Timed sweeps per run at the least: the median and tail rest on two
    * samples of every query, not one. */
  val MinSweeps = 2

  def sample(names: Seq[String], moduleOf: Map[String, String]): Seq[String] =
    names.groupBy(n => moduleOf.getOrElse(n, "other")).values
      .flatMap(_.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n })
      .toSeq.sorted

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** A governed unified store fed through the converter. Setup bootstraps
  * it with `writeUnified`. Each tick converts its batch, a CSV file and an
  * xlsx workbook, with `Converter.convert`, folds the converted documents with
  * `appendUnifiedGated`, compacts if fragmented, and serves the seed's
  * Zipf-skewed draws from a fixed lookup pool. Every lookup result must
  * equal the one recorded for that tick; recording cross-checks each
  * against a one-shot rebuild of the model corpus. After the loop the
  * committed ids are checked against the model (folded minus held). */
object Store {
  private val mapper = new ObjectMapper()
  /** The hold line of the gate: the drifting source's +480-character
    * shift reads far above it, a clean source's small-sample draw below. */
  val MaxPsi = 1.5

  final case class Lookup(kind: String, terms: Seq[String], qids: Seq[Long])

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.startsWith(".")) 0L else 1L

  /** The converter's merged output as (doc_id, text, source, n_chars)
    * rows, or why it does not hold the batch: every generated row once,
    * and the sampled record intact (embedded newline, Cyrillic text and
    * the injected `id = null` included). */
  def converted(out: String, file: JsonNode): Either[String, Seq[(Long, String, String, Long)]] = {
    val recs = mapper.readTree(new File(s"$out/output.json")).elements().asScala.toSeq
    val rows = recs.map(r => (r.get("doc_id").asText().toDouble.toLong, r.get("text").asText(),
      r.get("source").asText(), r.get("n_chars").asText().toDouble.toLong))
    val sample = file.get("sample")
    val sid = sample.get("doc_id").asLong()
    val want = (sid, sample.get("text").asText(), sample.get("source").asText(),
      sample.get("n_chars").asLong())
    if (rows.size != file.get("rows").asInt()) Left(s"${rows.size} records, ${file.get("rows")} generated")
    else if (rows.map(_._1).distinct.size != rows.size) Left("duplicate doc_ids in the output")
    else if (!rows.contains(want)) Left(s"sampled record $sid did not come through intact")
    else if (!recs.forall(r => r.has("id") && r.get("id").isNull)) Left("missing id = null")
    else Right(rows)
  }

  def run(spark: SparkSession, rec: Harness.Recorder, inputs: String, work: String,
      reference: String, recording: Boolean): Unit = {
    import spark.implicits._
    spark.conf.set("graft.store.maxSnapshots", "4")
    spark.conf.set("graft.store.vacuumOnCompact", "true")
    val m = mapper.readTree(new File(s"$inputs/manifest.json"))
    val drift = m.get("drift_source").asText()
    val batches = m.get("batches").elements().asScala.toSeq
    val pool = m.get("pool").elements().asScala.toSeq.map { q =>
      Lookup(q.get("kind").asText(), q.get("terms").elements().asScala.map(_.asText()).toSeq,
        q.get("qids").elements().asScala.map(_.asLong()).toSeq)
    }
    val schedule: Seq[Seq[Int]] =
      if (recording) batches.map(_ => pool.indices)
      else mapper.readTree(new File(s"$work/schedule.json")).elements().asScala.toSeq
        .map(_.elements().asScala.map(_.asInt()).toSeq)
    val ref: Map[(Int, Int), String] =
      if (recording) Map.empty
      else Files.readAllLines(Paths.get(reference), UTF_8).asScala.filter(_.nonEmpty)
        .map(_.split("\t")).map(a => (a(0).toInt, a(1).toInt) -> a(2)).toMap
    val recorded = mutable.ArrayBuffer.empty[String]
    def docsOf(p: String) = spark.read.parquet(p).select($"doc_id", $"text", $"source", $"n_chars")
    def rawOf(p: String) = spark.read.parquet(p)
    def unitOf(raw: DataFrame) = raw.select($"vec_id", $"label",
      transform($"embedding", x => x.cast("double")).as("unit"))
    val bootRaw = rawOf(s"$inputs/boot_vecs.parquet")
    val cents = spark.read.parquet(s"$inputs/centroids.parquet")
    val root = s"$work/store"
    def bootstrap(at: String, docs: DataFrame, raw: DataFrame): Unit =
      IndexStore.writeUnified(spark, docs, unitOf(raw), cents, at, governed = true,
        proj = Some((Similarity.projectedUnitsOf(raw, 32), Similarity.exactVecsOf(raw))))
    rec.phase("store.bootstrap")(bootstrap(root, docsOf(s"$inputs/boot_docs.parquet"), bootRaw))
    // the lookup inputs are driver data: query vectors come from the
    // bootstrap slice, which every version contains
    val qraw = bootRaw.collect().map(r => r.getLong(0) -> r).toMap
    def qRaw(ids: Seq[Long]) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map(qraw): _*), bootRaw.schema)

    def lookup(at: String, q: Lookup): Seq[Seq[Row]] = q.kind match {
      case "bm25" => Seq(IndexStore.bm25FromStore(spark, at, q.terms).collect().toSeq)
      case "batch" =>
        val qframe = (for (id <- q.qids; t <- q.terms) yield (id, t)).toDF("qid", "term")
        val (lex, sem) = IndexStore.retrievalBatchFromUnified(spark, at, qframe, kLex = 20,
          exclude = None, unitOf(qRaw(q.qids)).select($"vec_id", $"unit"), nprobe = 4,
          kAnn = 20, terms = Some(q.terms))
        Seq(lex.collect().toSeq, sem.collect().toSeq)
      case "ann" => Seq(IndexStore.projectedAnnFromStore(spark, at, qRaw(q.qids), k = 5).collect().toSeq)
    }
    def fp(res: Seq[Seq[Row]]): String = res.map { rows =>
      if (rows.isEmpty) "0" else Fingerprint.of(rows.head.schema, rows.iterator)._2
    }.mkString("|")

    val model = mutable.LinkedHashSet.empty[Long] ++ (0L until m.get("base_docs").asLong())
    var t = 0
    var inBytes = new File(s"$inputs/boot_docs.parquet").length() +
      new File(s"$inputs/boot_vecs.parquet").length()
    while (t < batches.size && (recording || t == 0 || !rec.expired)) {
      val b = batches(t)
      val bv = f"$inputs/batch_$t%03d_vecs.parquet"
      inBytes += new File(bv).length()
      val docs = b.get("files").elements().asScala.toSeq.flatMap { f =>
        val file = f.get("file").asText()
        val name = new File(file).getName
        val fmt = f.get("format").asText()
        val out = s"$work/convert_$name"
        inBytes += f.get("bytes").asLong()
        val conv = rec.op("convert", name, fmt) {
          val st = Converter.convert(spark, file, out,
            Converter.Config(format = fmt, csvSeparator = ";", outputMode = "merge"))
          (st, if (st.rows == f.get("rows").asLong()) None
            else Some(s"converter reported ${st.rows} rows, generated ${f.get("rows")}"))
        }
        // untimed: the converted file must hold its rows before they fold
        val rows = conv.flatMap { st =>
          rec.emit("type" -> "convert", "name" -> name, "in_rows" -> f.get("rows").asLong(),
            "in_bytes" -> f.get("bytes").asLong(), "out_bytes" -> st.bytes)
          val c = converted(out, f)
          rec.check(s"convert.$name", c.left.toOption)
          c.toOption
        }.getOrElse(throw new IllegalStateException(s"tick $t: $name did not convert"))
        IndexStore.deleteRec(new File(out))
        rows
      }
      val batchDocs = docs.toDF("doc_id", "text", "source", "n_chars")
      val admitted = b.get("admitted").elements().asScala.map(_.asLong()).toSeq
      val rawB = rawOf(bv)
      rec.op("fold", s"tick$t", "store.append") {
        val report = IndexStore.appendUnifiedGated(spark, root, batchDocs, unitOf(rawB), "src0",
          maxPsi = MaxPsi, raw = Some(rawB)).collect()
        val held = report.filter(r => r.getAs[Boolean]("held")).map(_.getAs[String]("source")).toSet
        rec.emit("type" -> "fold", "tick" -> t, "admitted" -> admitted.size, "held" -> held.size)
        (held, if (held == Set(drift)) None else Some(s"held sources ${held.mkString(",")} != $drift"))
      }
      model ++= admitted
      rec.op("compact", s"tick$t", "store.compact") {
        (IndexStore.compactIfFragmented(spark, root), None)
      }
      val results = schedule(t).map { qi =>
        val q = pool(qi)
        qi -> rec.op("lookup", q.kind, s"store.${q.kind}") {
          val res = lookup(root, q)
          rec.rows = res.map(_.size.toLong).sum
          val got = fp(res)
          (got,
            if (res.forall(_.isEmpty)) Some("empty lookup result")
            else if (recording) None
            else ref.get((t, qi)) match {
              case None => Some(s"no recorded result for tick $t lookup $qi")
              case Some(want) => if (got == want) None else Some(s"result $got != recorded $want")
            })
        }
      }
      if (recording) {
        // every pooled lookup at this version must read the same from a
        // one-shot rebuild of the model corpus, written from the generated
        // documents (not the converted ones)
        val oneShot = s"$work/store_oneshot"
        val modelIds = model.toSeq.toDF("doc_id")
        val allDocs = (docsOf(s"$inputs/boot_docs.parquet") +:
            (0 to t).map(i => docsOf(f"$inputs/batch_$i%03d_docs.parquet"))).reduce(_ unionByName _)
          .join(modelIds, Seq("doc_id"), "left_semi")
        val allRaw = (bootRaw +: (0 to t).map(i => rawOf(f"$inputs/batch_$i%03d_vecs.parquet")))
          .reduce(_ unionByName _)
          .join(modelIds.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi")
        bootstrap(oneShot, allDocs, allRaw)
        results.foreach { case (qi, got) =>
          val want = fp(lookup(oneShot, pool(qi)))
          rec.check(s"oneshot.$t.$qi",
            if (got.contains(want)) None else Some(s"incremental $got != one-shot $want"))
          recorded += s"$t\t$qi\t$want"
        }
        IndexStore.deleteRec(new File(oneShot))
      }
      t += 1
    }
    rec.emit("type" -> "store", "ticks" -> t, "in_bytes" -> inBytes,
      "store_bytes" -> dirBytes(new File(root)),
      "live_files" -> countFiles(new File(root)),
      "versions" -> IndexStore.history(root).size)

    // committed ids per family against the model
    def ids(channel: String, c: String): Set[Long] =
      IndexStore.channel(spark, root, channel).select(col(c)).as[Long].collect().toSet
    val want = model.toSet
    for ((ch, c) <- Seq("doc_lens" -> "doc_id", "exact_vecs" -> "vec_id", "proj_units" -> "vec_id")) {
      val got = ids(ch, c)
      rec.check(s"model.$ch",
        if (got == want) None
        else Some(s"${(want -- got).size} missing, ${(got -- want).size} unexpected ids"))
    }
    IndexStore.deleteRec(new File(root))
    if (recording)
      Files.write(Paths.get(reference), recorded.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
