package graft

import java.util.ConcurrentModificationException

import FreezeStoreFixture.{centsOf, docsOf, paysOf, rawOf, vecsOf}
import ops.IndexStore

/** The snapshot-transaction contract, table-driven over EVERY store
  * write entry point. Each case builds a tiny store, then
  *
  *  1. injects a crash after one channel its write stages: history and
  *     every live read stay exactly as they were;
  *  2. loses a first-committer-wins race to a rival commit: the write
  *     fails with the OCC loss and only the rival's version lands;
  *  3. retries: exactly one new version commits.
  *
  * Afterwards no committed manifest names a `_staging_` path and the
  * persistent-RDD map is back to its pre-write baseline. */
class StoreTransactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-tx-$tag").toString

  private def docs(ids: Range) = docsOf(spark, ids)
  private def vecs(ids: Range) = vecsOf(spark, ids)
  private def raw(ids: Range) = rawOf(spark, ids)
  private def pays(ids: Range) = paysOf(spark, ids)
  private def units(ids: Range) = ops.Similarity.projectedUnitsOf(raw(ids), 4)
  private def fine(ids: Range) = ops.Similarity.exactVecsOf(raw(ids))
  private lazy val cents = centsOf(spark)

  private def dedupStore(root: String): Unit = {
    IndexStore.write(spark, docs(0 to 5), root, governed = true)
    IndexStore.writeClusters(spark, docs(0 to 5), root)
  }
  private def textStore(root: String): Unit =
    IndexStore.writeText(spark, docs(0 to 5), root)
  private def vectorStore(root: String): Unit = {
    IndexStore.writeVectors(spark, vecs(0 to 59), cents, root)
    IndexStore.writeProjections(spark, root, units(0 to 59), fine(0 to 59))
  }
  private def mediaStore(root: String): Unit =
    IndexStore.writeMedia(spark, pays(0 to 3), root)
  private def unifiedStore(root: String): Unit =
    IndexStore.writeUnified(spark, docs(0 to 7), vecs(0 to 7), cents, root,
      governed = true, proj = Some((units(0 to 7), fine(0 to 7))),
      payloads = Some(pays(0 to 7)))

  /** One write entry point: the store it runs on, the channel the crash
    * follows, the write, and the rival that wins the race. A publish
    * target is born, not replaced, so the clone retries into a fresh
    * root (`retryAt`). */
  private case class Case(op: String, channel: String, setup: String => Unit,
      run: String => Unit, rival: String => Unit = IndexStore.compact(spark, _),
      retryAt: String => String = identity)

  private val cases = Seq(
    Case("write", "band_keys", dedupStore,
      IndexStore.write(spark, docs(0 to 9), _, governed = true)),
    Case("writeClusters", "cluster_labels", dedupStore,
      IndexStore.writeClusters(spark, docs(0 to 9), _)),
    Case("append", "fingerprints", dedupStore,
      IndexStore.append(spark, _, docs(10 to 12))),
    Case("reanchorCensus", "mix_census", dedupStore, IndexStore.reanchorCensus(
      spark, _, "src0", docs(20 to 29).filter($"source" === "src0"), maxPsi = 1e9)),
    Case("writeMedia", "media_sim_blocks", mediaStore,
      IndexStore.writeMedia(spark, pays(0 to 5), _)),
    Case("appendMedia", "media_stats", mediaStore,
      IndexStore.appendMedia(spark, _, pays(4 to 6))),
    Case("writeText", "doc_lens", textStore,
      IndexStore.writeText(spark, docs(0 to 9), _)),
    Case("appendText", "postings", textStore,
      IndexStore.appendText(spark, _, docs(6 to 9))),
    Case("compact", "postings",
      r => { textStore(r); IndexStore.appendText(spark, r, docs(6 to 9)) },
      IndexStore.compact(spark, _)),
    Case("cloneStoreAt", "stats", r => textStore(s"$r-src"),
      r => IndexStore.cloneStoreAt(spark, s"${r.stripSuffix("-again")}-src",
        "snap_00000001", r),
      rival = IndexStore.writeText(spark, docs(0 to 1), _),
      retryAt = r => s"$r-again"),
    Case("writeVectors", "centroids", vectorStore,
      IndexStore.writeVectors(spark, vecs(0 to 9), cents, _)),
    Case("appendVectors", "cells", vectorStore,
      IndexStore.appendVectors(spark, _, vecs(60 to 63), Some(raw(60 to 63)))),
    Case("retrainVectors", "centroids", vectorStore, IndexStore.retrainVectors(spark, _)),
    Case("writeProjections", "exact_vecs", vectorStore,
      IndexStore.writeProjections(spark, _, units(0 to 59), fine(0 to 59))),
    Case("reprojectVectors", "proj_stats", vectorStore,
      IndexStore.reprojectVectors(spark, _, 3)),
    Case("writeUnified", "cells", unifiedStore,
      IndexStore.writeUnified(spark, docs(0 to 9), vecs(0 to 9), cents, _)),
    Case("appendUnified", "media_sim_blocks", unifiedStore,
      IndexStore.appendUnified(spark, _, docs(8 to 11), vecs(8 to 11),
        raw = Some(raw(8 to 11)), payloads = Some(pays(8 to 11)))),
    Case("appendUnifiedGated", "mix_census", unifiedStore, r => {
      IndexStore.appendUnifiedGated(spark, r, docs(8 to 11), vecs(8 to 11),
        "src0", maxPsi = 1e9, raw = Some(raw(8 to 11))); ()
    }))

  private def isStore(root: String) =
    new java.io.File(s"$root/_current").exists()

  /** What a reader can observe: the committed history, the live
    * manifest, and every live parquet channel's rows. */
  private def visible(root: String) =
    if (!isStore(root)) (Seq.empty[String],
      Map.empty[String, IndexStore.Channel], Map.empty[String, Set[String]])
    else {
      val hist = IndexStore.history(root)
      val m = IndexStore.manifestAt(root, hist.last)
      (hist, m, m.keys.filterNot(_ == "bloom").map(ch => ch ->
        IndexStore.channel(spark, root, ch).collect().map(_.toString).toSet).toMap)
    }

  private def versions(root: String) =
    if (isStore(root)) IndexStore.history(root).size else 0

  for (c <- cases) test(s"${c.op}: crash and lost race leave no trace") {
    val root = tmp(c.op)
    c.setup(root)
    val before = visible(root)
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    IndexStore.crashAfterChannel = Some(c.channel)
    val crash = try intercept[RuntimeException](c.run(root))
      finally IndexStore.crashAfterChannel = None
    assert(crash.getMessage == s"injected crash after channel ${c.channel}",
      s"${c.op} must stage ${c.channel}: ${crash.getMessage}")
    assert(visible(root) == before, s"crashed ${c.op} changed a visible read")
    IndexStore.raceBeforeCommit = Some(() => c.rival(root))
    try intercept[ConcurrentModificationException](c.run(root))
    finally IndexStore.raceBeforeCommit = None
    assert(versions(root) == before._1.size + 1,
      s"only the rival may commit when ${c.op} loses the race")
    val at = c.retryAt(root)
    val n = versions(at)
    c.run(at)
    assert(versions(at) == n + 1, s"retried ${c.op} must commit one version")
    for (r <- Seq(root, at).distinct; snap <- IndexStore.history(r))
      assert(IndexStore.manifestAt(r, snap).values.flatMap(_.paths)
        .forall(!_.startsWith("_staging_")), s"$r/$snap names a staging path")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rdds
    assert(leaked.isEmpty, s"${c.op} stranded persisted RDD blocks: $leaked")
  }

  test("appendText bootstrap: a rival bootstrap is an OCC loss, the retry folds") {
    val root = tmp("boot")
    IndexStore.raceBeforeCommit = Some(() =>
      IndexStore.appendText(spark, root, docs(0 to 3)))
    try intercept[ConcurrentModificationException] {
      IndexStore.appendText(spark, root, docs(4 to 7))
    } finally IndexStore.raceBeforeCommit = None
    IndexStore.appendText(spark, root, docs(4 to 7))
    assert(IndexStore.channel(spark, root, "doc_lens").select($"doc_id")
      .as[Long].collect().sorted.toSeq == (0L to 7L))
  }
}
