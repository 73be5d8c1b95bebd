package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable end-to-end LLM-training-corpus pipeline: the catalogued
  * operators COMPOSED the way a production run chains them, with each
  * stage MATERIALIZED to parquet and the next stage reading the staged
  * dir — the shape a 100 TB pipeline actually has (every arrow a
  * durable table, restartable per stage, each stage one catalogued
  * query with its oracle-checked semantics; no logic is duplicated
  * here, the demo only routes frames between stages):
  *
  *   raw documents
  *     → c01 corpus gate   (empty/short/lang/quality/exact-dup/contam)
  *     → d18 dedup manifest (MinHash+LSH near-dup clusters → keepers)
  *     → d17 leakage-guarded split (train docs sharing ≥2 shingles
  *       with held-out are dropped; val/test kept as-is)
  *     → w04 sequence pack  (2048-token context windows, two-phase
  *       prefix sum)  +  w05 shard-export audit (balance check)
  *
  * Stage dirs hold `documents.parquet` only — every query in the chain
  * reads just that table, so the staged dirs are themselves valid
  * corpus dirs for any documents-surface operator.
  *
  * Run: sbt "runMain graft.CorpusDemo [srcDir] [workDir]"
  *   defaults: /root/testdata/sf0.01 /tmp/corpus_demo
  */
object CorpusDemo {

  private def hist(df: DataFrame, c: String): String =
    df.groupBy(col(c)).count().orderBy(col(c)).collect()
      .map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(" ")

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val work = args.lift(1).getOrElse("/tmp/corpus_demo")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stage(n: Int): String = s"$work/stage$n"
    def writeDocs(df: DataFrame, n: Int): Long = {
      df.write.mode("overwrite").parquet(s"${stage(n)}/documents.parquet")
      spark.read.parquet(s"${stage(n)}/documents.parquet").count()
    }
    def docs(dir: String): DataFrame = Tables.load(spark, dir, "documents")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[corpus-demo] $label%-46s ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      r
    }

    val n0 = docs(src).count()
    println(s"[corpus-demo] src=$src docs=$n0 work=$work")

    // 1) corpus gate: one verdict per document; keep the 'kept'
    val verdicts = timed("c01 corpus gate") {
      SparkEntry.queries("c01")(spark, src).cache()
    }
    println(s"[corpus-demo]   verdicts: ${hist(verdicts, "verdict")}")
    val kept = verdicts.filter(col("verdict") === "kept").select("doc_id")
    val n1 = timed("  materialize stage1 (gated)") {
      writeDocs(docs(src).join(kept, Seq("doc_id")), 1)
    }
    verdicts.unpersist()

    // 2) near-dup manifest on the gated corpus: keep cluster keepers
    val manifest = timed("d18 dedup manifest (MinHash+LSH)") {
      SparkEntry.queries("d18")(spark, stage(1)).cache()
    }
    println(s"[corpus-demo]   actions: ${hist(manifest, "action")}")
    val keepers = manifest.filter(col("action") === "keep").select("doc_id")
    val n2 = timed("  materialize stage2 (near-deduped)") {
      writeDocs(docs(stage(1)).join(keepers, Seq("doc_id")), 2)
    }
    manifest.unpersist()
    // the stage is durable; drop the stage-1 minhash checkpoint blocks
    SharedFrames.release(spark)

    // 3) leakage-guarded split: drop leaky TRAIN docs, keep the rest
    val split = timed("d17 leakage-guarded split") {
      SparkEntry.queries("d17")(spark, stage(2)).cache()
    }
    val leakyTrain = split.filter(col("split") === "train" && col("leaky"))
    println(s"[corpus-demo]   splits: ${hist(split, "split")} | " +
      s"leaky train docs dropped: ${leakyTrain.count()}")
    val n3 = timed("  materialize stage3 (leak-free)") {
      writeDocs(docs(stage(2)).join(
        split.filter(!(col("split") === "train" && col("leaky")))
          .select("doc_id"), Seq("doc_id")), 3)
    }
    split.unpersist()

    // 4) pack + shard audit on the shipped corpus
    val packed = timed("w04 sequence pack (2048-token windows)") {
      val p = SparkEntry.queries("w04")(spark, stage(3)).cache()
      p.count(); p
    }
    val packStats = packed
      .agg(countDistinct(col("source"), col("pack_id")).as("n_packs"),
        sum(col("n_tokens")).as("n_tokens")).head()
    val (nPacks, nTokens) = (packStats.getLong(0), packStats.getLong(1))
    println(f"[corpus-demo]   packs=$nPacks tokens=$nTokens " +
      f"fill=${nTokens.toDouble / (nPacks * 2048)}%.3f " +
      "(last pack per source part-filled by construction)")
    packed.unpersist()

    val shards = timed("w05 shard-export audit") {
      SparkEntry.queries("w05")(spark, stage(3))
        .agg(min(col("sum_tokens")).as("lo"), max(col("sum_tokens")).as("hi"))
        .head()
    }
    println(f"[corpus-demo]   64-shard balance: min=${shards.getLong(0)} " +
      f"max=${shards.getLong(1)} " +
      f"ratio=${shards.getLong(1).toDouble / shards.getLong(0)}%.2f")

    println(s"[corpus-demo] SUMMARY docs $n0 → gated $n1 → deduped $n2 " +
      s"→ leak-free $n3 → $nPacks packs of 2048 tokens in 64 shards")
    spark.stop()
  }
}
