package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** The per-dir metadata caches (bm25DocStats / decontPanel / rrfPre —
  * r14) serve VERSIONED index statistics keyed by a source stamp; this
  * spec pins the r15 hardening (VERDICT r14 item 1, ADVICE r14):
  *
  *  - a `<table>.parquet` DIRECTORY rewritten IN PLACE — same part
  *    names, directory mtime unchanged — must still change the stamp
  *    (the r14 dir-mtime stamp missed exactly this, the staged-bench
  *    layout's natural rewrite), and the cached stats must re-collect;
  *  - a stat failure must yield a FRESH stamp per call (the r14
  *    constant 0L pinned the first entry forever);
  *  - [[TextAnalysis.stampCached]] builds BEFORE inserting (a build
  *    that throws — the q168 panel bound — pins nothing) and evicts
  *    superseded stamps of the same dir;
  *  - TopKRowsByScore rejects mistyped calls at ANALYSIS (ADVICE r14:
  *    call_function applies no coercion, so an int score used to die
  *    with a ClassCastException inside aggregation).
  */
class StampedCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stamped-cache-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Write a one-part documents.parquet DIRECTORY with the given texts. */
  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }

  test("in-place part overwrite with unchanged dir mtime changes the " +
    "stamp and re-collects bm25 stats; the superseded entry is evicted") {
    val dir = Files.createTempDirectory("graft_stamp_a").toString
    writeDocs(dir, Seq("alpha beta", "gamma alpha"))
    val tableDir = Paths.get(dir, "documents.parquet")
    val dirMtime = Files.getLastModifiedTime(tableDir)

    val s1 = TextAnalysis.sourceStamp(dir, "documents")
    val st1 = TextAnalysis.bm25DocStats(spark, dir)
    assert(st1.nDocs == 2L && st1.sumDl == 4L)

    // v2 written elsewhere, then copied ONTO v1's part names (data +
    // crc so the checksum fs keeps reading) — the same child set, and
    // the directory mtime is restored to v1's: the exact rewrite shape
    // the r14 dir-mtime stamp could not see
    val v2 = Files.createTempDirectory("graft_stamp_b").toString
    writeDocs(v2, Seq("alpha beta gamma delta", "epsilon zeta eta",
      "theta iota"))
    def onePart(d: java.nio.file.Path, pfx: String): java.nio.file.Path = {
      val s = Files.list(d)
      try s.filter(p => p.getFileName.toString.startsWith(pfx))
        .findFirst.get
      finally s.close()
    }
    val v2dir = Paths.get(v2, "documents.parquet")
    for (pfx <- Seq("part-", ".part-")) {
      val dst = onePart(tableDir, pfx)
      Files.copy(onePart(v2dir, pfx), dst,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(dirMtime.toMillis + 4000))
    }
    Files.setLastModifiedTime(tableDir, dirMtime)
    Tables.invalidate() // the documented post-mutation flow

    val s2 = TextAnalysis.sourceStamp(dir, "documents")
    assert(s2 != s1, "in-place part overwrite must change the stamp")
    val st2 = TextAnalysis.bm25DocStats(spark, dir)
    assert(st2.nDocs == 3L && st2.sumDl == 9L,
      "stale index stats served after an in-place rewrite")

    // superseded stamp evicted: a third call under the SAME stamp hits
    // the fresh entry (same values), and rewinding to the OLD stamp is
    // impossible by construction — assert via the cache seam instead
    val probe = scala.collection.concurrent.TrieMap.empty[(String, Long), Int]
    TextAnalysis.stampCached(probe, (dir, 1L))(_._1 == dir)(10)
    TextAnalysis.stampCached(probe, (dir, 2L))(_._1 == dir)(20)
    assert(probe.size == 1 && probe((dir, 2L)) == 20,
      "superseded stamps of the same dir must be evicted")
  }

  test("a file-count change alone (same max child mtime, same dir " +
    "mtime) changes the stamp") {
    val dir = Files.createTempDirectory("graft_stamp_c").toString
    writeDocs(dir, Seq("one two"))
    val tableDir = Paths.get(dir, "documents.parquet")
    val dirMtime = Files.getLastModifiedTime(tableDir)
    val s1 = TextAnalysis.sourceStamp(dir, "documents")
    val extra = tableDir.resolve("part-extra.parquet")
    Files.write(extra, Array[Byte](1, 2, 3))
    // pin the new child's mtime at the dir's (no new max) and restore
    // the dir mtime — only the COUNT differs
    Files.setLastModifiedTime(extra, dirMtime)
    Files.setLastModifiedTime(tableDir, dirMtime)
    assert(TextAnalysis.sourceStamp(dir, "documents") != s1)
  }

  test("stat failures yield fresh stamps per call and a throwing build " +
    "pins nothing") {
    val gone = "/tmp/graft_stamp_does_not_exist_" + System.nanoTime()
    val f1 = TextAnalysis.sourceStamp(gone, "documents")
    val f2 = TextAnalysis.sourceStamp(gone, "documents")
    assert(f1 < 0 && f2 < 0 && f1 != f2,
      "failure stamps must never alias onto a shared key")

    val cache = scala.collection.concurrent.TrieMap.empty[(String, Long), Int]
    intercept[IllegalArgumentException] {
      TextAnalysis.stampCached(cache, ("d", 1L))(_._1 == "d")(
        throw new IllegalArgumentException("over bound"))
    }
    assert(cache.isEmpty, "a refused build must not stay pinned")
  }

  test("TopKRowsByScore rejects mistyped calls at analysis") {
    import spark.implicits._
    val df = Seq(("x", 1L)).toDF("s", "id")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(graft.functions.TopKRowsByScore.topkRows(
        org.apache.spark.sql.functions.col("s"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id"), 5)).collect()
    }
    assert(err.getMessage.contains("graft_topk_rows expects score"))
  }
}
