package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.pipeline.Ingest
import graft.streaming.Watcher

/** Scan a synthetic measurement tree on disk through the real binaryFile
  * source: key extraction, readiness gate, anti-join skip, mask parsing. */
class RepetitionScanSpec extends SparkSpec {
  import spark.implicits._

  private def touch(root: Path, rel: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array[Byte](0x42))
  }

  private lazy val root: Path = {
    val r = Files.createTempDirectory("mouse_tree")
    // complete repetition
    Seq("eiger_1_master.h5", "im_craw.nxs",
      "beam_profile/eiger_2_master.h5", "beam_profile/im_craw.nxs",
      "beam_profile_through_sample/eiger_3_master.h5",
      "beam_profile_through_sample/im_craw.nxs")
      .foreach(f => touch(r, s"2024/20240115_3_1/$f"))
    // incomplete repetition (missing through-sample pair)
    Seq("eiger_1_master.h5", "im_craw.nxs",
      "beam_profile/eiger_2_master.h5", "beam_profile/im_craw.nxs")
      .foreach(f => touch(r, s"2024/20240115_3_2/$f"))
    // mask library
    touch(r, "Masks/20240101_1.nxs")
    touch(r, "Masks/20231201_2.nxs")
    touch(r, "Masks/readme.txt")
    r
  }

  test("scan extracts (ymd, batch, repetition) keys from the tree") {
    val files = RepetitionScan.repetitionFiles(spark, root.toString)
    val keys = files.select("ymd", "batch", "repetition").distinct()
      .as[(String, Int, Int)].collect().toSet
    assert(keys == Set(("20240115", 3, 1), ("20240115", 3, 2)))
  }

  test("readiness gate keeps only complete repetitions") {
    val ready = RepetitionScan.readyRepetitions(
      RepetitionScan.repetitionFiles(spark, root.toString))
    val rows = ready.select("ymd", "batch", "repetition")
      .as[(String, Int, Int)].collect()
    assert(rows.toSeq == Seq(("20240115", 3, 1)))
  }

  test("anti-join skips already-processed repetitions") {
    val ready = RepetitionScan.readyRepetitions(
      RepetitionScan.repetitionFiles(spark, root.toString))
    val processed = Seq(("20240115", 3, 1)).toDF("ymd", "batch", "repetition")
    assert(RepetitionScan.notYetProcessed(ready, processed).count() == 0)
    val other = Seq(("20240115", 9, 9)).toDF("ymd", "batch", "repetition")
    assert(RepetitionScan.notYetProcessed(ready, other).count() == 1)
  }

  test("scan, watcher and ingest agree on every repetition directory") {
    val r = Files.createTempDirectory("rep_keys")
    Seq(
      "data/2024/20240116_1_2/im_craw.nxs",
      "data/2024/20240116_1_2/beam_profile/im_craw.nxs", // nested
      "data/2024/20240117_3_4/eiger_1_master.h5",
      // not repetition directories: the grammar must be a whole component
      "data/x20240115_1_2/f.nxs",
      "data/120240115_1_2/f.nxs",
      "data/20240115_1_2_old/im_craw.nxs",
      "data/notes.txt").foreach(touch(r, _))
    val expected = Set(("20240116", 1, 2), ("20240117", 3, 4))

    val scanned = RepetitionScan.repetitionFiles(spark, r.toString)
      .select("ymd", "batch", "repetition", "relPath")
      .as[(String, Int, Int, String)].collect().toSet
    val listing = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(r.toString)
    val ingested = Ingest.repetitionKeys(listing)
      .select("ymd", "batch", "repetition").as[(String, Int, Int)].collect().toSet
    val q = Watcher.fileEvents(spark, r.toString)
      .writeStream.format("memory").queryName("rep_keys_events")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000); q.stop()
    val watched = spark.table("rep_keys_events").as[Watcher.FileEvent].collect()
      .map(e => (e.repDir, e.relPath)).toSet

    assert(scanned.map(k => (k._1, k._2, k._3)) == expected)
    assert(ingested == expected)
    assert(watched == scanned.map { case (ymd, b, rep, rel) => (s"${ymd}_${b}_$rep", rel) })
    assert(scanned.map(_._4) ==
      Set("im_craw.nxs", "beam_profile/im_craw.nxs", "eiger_1_master.h5"))
  }

  test("mask library parsing: stem -> (maskYmd, configuration)") {
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root.resolve("Masks").toString)
    val masks = RepetitionScan.maskLibrary(files)
      .select("maskYmd", "configuration")
      .as[(String, Int)].collect().toSet
    assert(masks == Set(("20240101", 1), ("20231201", 2))) // readme skipped
  }
}
