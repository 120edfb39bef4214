package graft

import org.apache.spark.sql.functions._

/** Stage-level decomposition of the incremental near-dup PROBE at sf0.1 —
  * which of its internal passes (new-batch signatures, bucket joins,
  * candidate dedup, estimate prune, shingle verify) actually costs time.
  * Mirrors the FUSED shape of `Dedup.incrementalNearDuplicates`: batch sigs
  * computed once and broadcast into the prune, corpus sigs joined once.
  * Run: `Test/runMain graft.ProfileIncremental`. */
object ProfileIncremental {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    import graft.operators.Dedup
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.count()
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val index = time("ingest: corpus lshIndex (amortized)") {
      Dedup.lshIndex(corpus).localCheckpoint(true)
    }
    val corpusSigs = time("ingest: corpus lshSignatures (amortized)") {
      Dedup.lshSignatures(corpus).localCheckpoint(true)
    }
    // ---- the probe, decomposed (mirrors incrementalNearDuplicates) ----
    val newSigs = time("probe: new-batch signatures (one pass)") {
      Dedup.lshSignatures(newDocs).localCheckpoint(true)
    }
    val newIndex = time("probe: banding off the materialized sigs") {
      newSigs.select(col("doc_id"),
          explode(graft.operators.Dedup.lshBands(col("sig"), 32, 4)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
        .localCheckpoint(true)
    }
    val a = newIndex.select(col("band"), col("bucket"), col("doc_id").as("id_new"))
    // mirrors the r09 operator: candidates keep their per-band multiplicity
    // here, and the dedup folds into the post-prune pair list
    val vsCorpus = time("probe: vs-corpus BROADCAST bucket join (raw, no dedup)") {
      val v = index
          .select(col("band"), col("bucket"), col("doc_id").as("id_old"))
        .join(broadcast(a), Seq("band", "bucket"))
        .filter(col("id_new") =!= col("id_old"))
        .select(col("id_new"), col("id_old"))
        .localCheckpoint(true)
      println(s"[profile]   vs-corpus candidates: ${v.count()}")
      v
    }
    val vsSelf = time("probe: within-batch BROADCAST bucket join (raw, no dedup)") {
      val b = newIndex.select(col("band"), col("bucket"), col("doc_id").as("id_b2"))
      val v = a.join(broadcast(b), Seq("band", "bucket"))
        .filter(col("id_new") < col("id_b2"))
        .select(col("id_new"), col("id_b2"))
        .localCheckpoint(true)
      println(s"[profile]   within-batch candidates: ${v.count()}")
      v
    }
    val est = graft.functions.NativeExprs.sigMatchFraction(col("sig_a"), col("sig_b"))
    val pruned = time("probe: estimate prune (bcast candidates, zero-exchange)") {
      val sigA = broadcast(newSigs.select(col("doc_id").as("id_new"), col("sig").as("sig_a")))
      val sigB2 = broadcast(newSigs.select(col("doc_id").as("id_b2"), col("sig").as("sig_b")))
      val cp = corpusSigs.select(col("doc_id").as("id_old"), col("sig").as("sig_b"))
        .join(broadcast(vsCorpus), Seq("id_old"))
        .join(sigA, Seq("id_new"))
        .filter(est >= 0.3)
        .select(least(col("id_new"), col("id_old")).as("id_a"),
                greatest(col("id_new"), col("id_old")).as("id_b"))
      val sp = vsSelf.join(sigA, Seq("id_new")).join(sigB2, Seq("id_b2"))
        .filter(est >= 0.3)
        .select(col("id_new").as("id_a"), col("id_b2").as("id_b"))
      val p = cp.unionByName(sp).dropDuplicates("id_a", "id_b").localCheckpoint(true)
      println(s"[profile]   pruned survivors: ${p.count()}")
      p
    }
    time("probe: shingle verify of survivors (bcast pair list)") {
      val survivorIds = pruned.select(col("id_a").as("doc_id"))
        .union(pruned.select(col("id_b").as("doc_id"))).distinct()
      val sh = docs.join(broadcast(survivorIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.NativeExprs.shingleSet(col("text"), 5).as("sh"))
      val n = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .join(broadcast(pruned), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard",
          graft.functions.NativeExprs.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.5).count()
      println(s"[profile]   verified pairs: $n")
    }
    time("probe: end-to-end operator (warm artifacts)") {
      Dedup.incrementalNearDuplicates(newDocs, corpus, index, threshold = 0.5,
        corpusSigs = Some(corpusSigs)).count()
    }
    spark.stop()
  }
}
