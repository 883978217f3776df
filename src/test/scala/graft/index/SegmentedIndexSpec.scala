package graft.index

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.query.Searcher
import graft.tables.TableIO

class SegmentedIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("segmented-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val numDocs = 300
  val buckets = 8

  private def queries: Seq[String] =
    scala.io.Source.fromInputStream(getClass.getResourceAsStream("/queries.txt"), "UTF-8")
      .getLines().toVector

  test("duplicate input urls fail loudly in both build paths") {
    import spark.implicits._
    val pages = Corpus.generateLocal(30)
    val withDup = spark.createDataset(pages :+ pages.head.copy(
      html = (new String(pages.head.html, "UTF-8") + "<p>recrawled body</p>").getBytes("UTF-8")))
    val e1 = intercept[IllegalArgumentException](
      IndexBuild.build(spark, withDup, Corpus.lexicon, parts = 3, blockSize = 64))
    assert(e1.getMessage.contains("multiple input pages"))
    val dir = Files.createTempDirectory("segdup").toString
    val e2 = intercept[IllegalArgumentException](
      SegmentedIndex.buildSegments(spark, withDup, Corpus.lexicon, dir, 4))
    assert(e2.getMessage.contains("multiple input pages"))
  }

  test("fingerprints distinguish even-multiplicity inputs (no xor cancellation)") {
    import spark.implicits._
    val p = Corpus.generateLocal(2)
    // {P, P} vs {R, R}: both folded to 0 under plain xor-of-page-hashes —
    // the stale-segment aliasing case; the multiplicity-mixed fold must
    // separate them (and both from {P} and {P, R})
    def fp(pages: Seq[graft.corpus.Page]) =
      SegmentedIndex.fingerprints(spark.createDataset(pages).toDF(), 1)("0")
    val pp = fp(Seq(p(0), p(0)))
    val rr = fp(Seq(p(1), p(1)))
    assert(pp != rr, "identical-pair inputs with different content must not collide")
    assert(pp != fp(Seq(p(0))) && pp != fp(Seq(p(0), p(1))))
  }

  test("partitioned snapshots present one schema, empty or not, incl. the partition column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("segschema").toString
    val (_, _, _) = TableIO.writeResumable(spark, dir, "t", "bucket",
      Map("0" -> "a", "1" -> "b"),
      _ => Seq((0, "u1", "t1", 1), (1, "u2", "t2", 2)).toDF("bucket", "url", "term", "tf"))
    val nonEmpty = TableIO.read(spark, dir)
    assert(nonEmpty.columns.toSeq == Seq("bucket", "url", "term", "tf"),
      s"non-empty read schema: ${nonEmpty.columns.toSeq}")
    assert(nonEmpty.select("bucket").distinct().count() == 2)
    val dir2 = Files.createTempDirectory("segschema2").toString
    TableIO.writeResumable(spark, dir2, "t", "bucket", Map("0" -> "a"),
      _ => Seq.empty[(Int, String, String, Int)].toDF("bucket", "url", "term", "tf"))
    val empty = TableIO.read(spark, dir2)
    assert(empty.columns.toSeq == nonEmpty.columns.toSeq,
      s"empty ${empty.columns.toSeq} vs non-empty ${nonEmpty.columns.toSeq}")
  }

  test("release() drops the index's persisted RDDs") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val b = IndexBuild.build(spark, Corpus.generate(spark, 100),
      Corpus.lexicon, parts = 3, blockSize = 64)
    b.blocks.count(); b.docs.count()
    assert(spark.sparkContext.getPersistentRDDs.size > before)
    b.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"release left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs (was $before)")
  }

  test("segmented build + merge is rank-identical to the monolithic build; resume reuses clean buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("segidx").toString
    val pages = Corpus.generate(spark, numDocs)

    // ---- first build: everything tokenized ----
    val r1 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets)
    assert(r1.rebuilt.size == buckets && r1.reused.isEmpty)
    val merged = SegmentedIndex.merge(spark, dir, parts = 4, blockSize = 64)
    val mono = IndexBuild.build(spark, pages, Corpus.lexicon, parts = 4, blockSize = 64)
    val sMerged = Searcher.fromIndex(merged, numDocs)
    val sMono = Searcher.fromIndex(mono, numDocs)
    for (q <- queries)
      assert(sMerged.referenceTopK(q) == sMono.referenceTopK(q), s"query '$q'")

    // ---- unchanged input: every bucket reused, nothing recomputed ----
    val r2 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets)
    assert(r2.rebuilt.isEmpty && r2.reused.size == buckets)
    assert(TableIO.currentSnapshotId(dir).contains(r2.snapshotId))

    // ---- one page mutated: only its bucket rebuilds ----
    val mutated = pages.map { p =>
      if (p.url.endsWith("/p/7"))
        p.copy(html = new String(p.html, "UTF-8")
          .replace("<p>", "<p>mutation galaxy galaxy ").getBytes("UTF-8"))
      else p
    }
    val r3 = SegmentedIndex.buildSegments(spark, mutated, Corpus.lexicon, dir, buckets)
    assert(r3.rebuilt.size == 1, s"expected 1 rebuilt bucket, got ${r3.rebuilt}")
    assert(r3.reused.size == buckets - 1)

    // merged index over the new snapshot matches a monolithic build of the
    // mutated corpus
    val merged3 = SegmentedIndex.merge(spark, dir, parts = 4, blockSize = 64)
    val mono3 = IndexBuild.build(spark, mutated, Corpus.lexicon, parts = 4, blockSize = 64)
    val sM3 = Searcher.fromIndex(merged3, numDocs)
    val sO3 = Searcher.fromIndex(mono3, numDocs)
    for (q <- queries)
      assert(sM3.referenceTopK(q) == sO3.referenceTopK(q), s"post-mutation query '$q'")

    // ---- lineage + time travel: snapshot 1 still readable and unchanged ----
    val lin1 = TableIO.lineage(spark, dir, Some(r1.snapshotId))
    val lin3 = TableIO.lineage(spark, dir, Some(r3.snapshotId))
    assert(lin1.keySet == lin3.keySet)
    assert(lin1.count { case (k, v) => lin3(k) != v } == 1)
    val snap1Rows = TableIO.read(spark, dir, Some(r1.snapshotId)).count()
    assert(snap1Rows > 0)
    val manifest = TableIO.manifest(spark, dir, Some(r3.snapshotId))
    assert(manifest.forall(_.rows > 0))
    assert(manifest.map(_.partition).toSet.size == buckets)

    // schema lineage: every snapshot records a non-empty schema DDL — the
    // all-reused snapshot (r2) inherits its parent's
    for (snap <- Seq(r1, r2, r3)) {
      val meta = TableIO.snapshotMeta(spark, dir, snap.snapshotId)
      assert(meta.exists(_.schema_ddl.nonEmpty), s"snapshot ${snap.snapshotId} schema_ddl")
    }
    assert(TableIO.snapshotMeta(spark, dir, r1.snapshotId).get.schema_ddl ==
           TableIO.snapshotMeta(spark, dir, r2.snapshotId).get.schema_ddl)
  }

  test("empty buckets carry lineage: a rerun reuses ALL buckets, including empty ones") {
    // 5 pages over 16 buckets leaves most buckets empty; an empty bucket
    // writes no data file, so its fingerprint must be carried as a
    // synthetic manifest row or every rerun reports it rebuilt
    val dir = Files.createTempDirectory("segidx-empty").toString
    val pages = Corpus.generate(spark, 5)
    val r1 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets = 16)
    assert(r1.rebuilt.size == 16 && r1.reused.isEmpty)
    val r2 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets = 16)
    assert(r2.rebuilt.isEmpty && r2.reused.size == 16,
      s"empty buckets must reuse like any clean bucket, got $r2")
    val built = SegmentedIndex.merge(spark, dir, parts = 2, blockSize = 64)
    assert(built.docs.count() == 5)
  }

  test("resume after a crashed uncommitted write attempt does not double-count rows") {
    val dir = Files.createTempDirectory("segidx-crash").toString
    val pages = Corpus.generate(spark, 120)
    val r1 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets)
    val rows1 = TableIO.read(spark, dir).count()

    // simulate an attempt that wrote data files for the NEXT snapshot and
    // died before the pointer commit: orphan parquet files sit in the
    // snap dir the retry will reuse-into
    val nextSnap = TableIO.currentSnapshotId(dir).get + 1
    val crashDir = java.nio.file.Paths.get(dir, "data", s"snap-$nextSnap", "bucket=0")
    Files.createDirectories(crashDir)
    val existing = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val srcFile = scala.jdk.CollectionConverters.IteratorHasAsScala(existing).asScala
      .find(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).get
    Files.copy(srcFile, crashDir.resolve("part-dead-task-attempt.snappy.parquet"))

    // the retry (identical input → all buckets reused) must not manifest the
    // orphan alongside the carried files
    val r2 = SegmentedIndex.buildSegments(spark, pages, Corpus.lexicon, dir, buckets)
    assert(r2.rebuilt.isEmpty && r2.reused.size == buckets)
    val rows2 = TableIO.read(spark, dir).count()
    assert(rows2 == rows1, s"crashed-attempt orphan double-counted: $rows2 vs $rows1")
  }

  test("index save/load round-trip serves identical results") {
    val dir = Files.createTempDirectory("idxsave").toString
    val pages = Corpus.generate(spark, 150)
    val built = IndexBuild.build(spark, pages, Corpus.lexicon, parts = 4, blockSize = 64)
    IndexBuild.save(spark, built, dir)
    val reloaded = Searcher.fromIndex(IndexBuild.load(spark, dir), 150)
    val direct = Searcher.fromIndex(built, 150)
    for (q <- queries)
      assert(reloaded.referenceTopK(q) == direct.referenceTopK(q), s"query '$q'")
    // snapshot metadata exists for all three artifact tables
    for (t <- Seq("docs", "dictionary", "blocks"))
      assert(TableIO.currentSnapshotId(s"$dir/$t").contains(1L), t)
  }

  test("expireSnapshots retains the last K, reclaims expired dirs, fails loudly on expired reads") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("segexpire").toString
    // bucket 0 changes every version (rebuilt); bucket 1 is written once at
    // v1 and carried forward as hard links by every later snapshot
    def writeVersion(i: Int): Long =
      TableIO.writeResumable(spark, dir, s"v$i", "bucket",
        Map("0" -> s"fp$i", "1" -> "stable"),
        parts => Seq((0, i * 100L), (1, 7L)).filter(r => parts.contains(r._1.toString))
          .toDF("bucket", "payload"))._1
    (1 to 4).foreach(writeVersion)
    assert(TableIO.snapshotIds(dir) == Seq(1L, 2L, 3L, 4L))
    def readSet(id: Long): Set[(Int, Long)] =
      TableIO.read(spark, dir, Some(id)).collect()
        .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("payload"))).toSet
    val v3 = readSet(3L); val v4 = readSet(4L)
    assert(v3 == Set((0, 300L), (1, 7L)) && v4 == Set((0, 400L), (1, 7L)))

    def dataFiles(): Seq[java.nio.file.Path] = {
      val s = Files.walk(java.nio.file.Paths.get(dir, "data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
    val before = dataFiles()
    val expired = TableIO.expireSnapshots(dir, keepLast = 2)
    assert(expired == Seq(1L, 2L))
    assert(TableIO.snapshotIds(dir) == Seq(3L, 4L))
    // retained snapshots read VERBATIM after expiry — including bucket 1,
    // whose only surviving directory entries are the hard links v3/v4
    // carried (the v1/v2 entries just vanished with their snap dirs)
    assert(readSet(3L) == v3 && readSet(4L) == v4)
    assert(TableIO.read(spark, dir).collect().length == 2) // current == v4
    val after = dataFiles()
    assert(after.size < before.size, s"expiry must drop dir entries: ${before.size} -> ${after.size}")
    assert(!after.exists(_.toString.contains("snap-1")) &&
      !after.exists(_.toString.contains("snap-2")))
    // time travel to an expired id fails loudly, naming the cause
    val e = intercept[IllegalStateException](TableIO.read(spark, dir, Some(1L)))
    assert(e.getMessage.contains("expired"), e.getMessage)
    // lineage of retained snapshots is intact (resume keeps working):
    // a v5 with unchanged fingerprints reuses BOTH buckets of v4
    val (_, rebuilt5, reused5) = TableIO.writeResumable(spark, dir, "v5", "bucket",
      Map("0" -> "fp4", "1" -> "stable"), _ => fail("nothing should rebuild"))
    assert(rebuilt5.isEmpty && reused5 == Set("0", "1"))
    // keepLast beyond the available history is a no-op
    assert(TableIO.expireSnapshots(dir, keepLast = 10).isEmpty)
  }
}
