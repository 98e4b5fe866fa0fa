package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity => Sim}
import QueryUtil._

/** Embedding similarity search + multimodal-column plumbing over the
  * `embeddings` and `documents` tables. */
object VectorQueries {

  private def emb(s: SparkSession, d: String) = t(s, d, "embeddings")

  private def queryVec(s: SparkSession, d: String) =
    emb(s, d).filter(col("vec_id") === 0)

  /** The q268/q274/q275 shared prefix: knnGraph(bits=8, k=3) edges
    * restricted to same-source pairs, walked by
    * [[graft.ops.Assembly.semanticWalk]]. Returned as a plan with nothing
    * persisted: each query owns what it materializes. The same-source
    * restriction joins the group key onto BOTH endpoints as plain HASH
    * joins — the documents projection is corpus-sized (one row per
    * document), so broadcasting it would break at 100 TB; the edge side
    * is already bounded at k·|V| by knnGraph's construction, and a
    * shuffle join on the endpoint id is the scale shape. */
  private def semWalkOrder(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Assembly
    val docs = t(s, d, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val ev = emb(s, d).select(col("vec_id"), col("embedding"))
    val g = Sim.knnGraph(ev, col("vec_id"), col("embedding"),
      bits = 8, k = 3)
    val edges = g
      .join(src.select(col("doc_id").as("i"), col("source").as("g")), "i")
      .join(src.select(col("doc_id").as("j"), col("source").as("__gj")), "j")
      .filter(col("g") === col("__gj"))
      .select(col("g"), col("i"), col("j"), col("rk"))
    Assembly.semanticWalk(docs.select(col("source"), col("doc_id")),
      col("source"), col("doc_id"), edges)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // brute-force cosine top-k — the ANN correctness baseline
    "q48_ann_brute" -> ((s, d) => {
      Sim.bruteForceTopK(
          emb(s, d).filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
          queryVec(s, d), col("embedding"), k = 10)
        .select(col("id").as("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // int8-quantized ANN serving: top-k on dequantized codes (4× smaller
    // scan) vs the fp32 brute truth — same oracle-pinned recall-bound
    // contract as q57/q125
    "q141_ann_quantized" -> ((s, d) => {
      val base = emb(s, d).filter(col("vec_id") =!= 0)
      val codes = Sim.quantizeInt8(base, col("embedding"))
      val approx = Sim.quantizedBruteTopK(codes, col("vec_id"), col("qvec"),
        col("qscale"), queryVec(s, d), col("embedding"), k = 10)
      val truth = Sim.bruteForceTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), k = 10)
      approx.select(col("id")).join(broadcast(truth.select(col("id"))), "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
    }),

    // PQ-compressed ANN serving: codebooks trained on a deterministic
    // sample, ADC candidate scan over m=16 one-byte codes (16× smaller than
    // the fp32 vectors it stands in for), exact re-rank of a driver-sized
    // candidate set — same oracle-pinned recall-bound contract as
    // q57/q125/q141. m=16/ks=16/nCandidates=250: measured recall 1.0 at
    // BOTH SFs (uniform unclustered embeddings are PQ's worst case — m=8
    // needed 250 candidates for 0.9 at sf0.1; clustered real data needs a
    // fraction of this pool — and the degenerate nCandidates=|table| ≡
    // brute-force identity is spec-pinned).
    "q142_ann_pq" -> ((s, d) => {
      val base = emb(s, d).filter(col("vec_id") =!= 0)
      val model = Sim.pqTrain(base, col("vec_id"), col("embedding"), m = 16, ks = 16)
      val approx = Sim.pqTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), model, nCandidates = 250, k = 10)
      val truth = Sim.bruteForceTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), k = 10)
      approx.select(col("id")).join(broadcast(truth.select(col("id"))), "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
    }),

    // BATCHED PQ serving: one codes-scan answers a 3-query batch; per-query
    // recall bound vs the brute truth, same contract as q125. Candidate
    // pool 250 per query (the q142 pool that measures 1.0 alone).
    "q150_ann_pq_batch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = emb(s, d).filter(col("vec_id") >= 3)
      val queries = emb(s, d).filter(col("vec_id") < 3)
      val model = Sim.pqTrain(base, col("vec_id"), col("embedding"), m = 16, ks = 16)
      val encoded = Sim.pqEncode(
        base.select(col("vec_id"), col("embedding")), col("embedding"), model)
      val batch = Sim.pqTopKBatchOnCodes(encoded, col("vec_id"), col("codes"),
        base, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), model,
        nCandidates = 250, k = 10)
      val truth = base
        .crossJoin(broadcast(queries.select(col("vec_id").as("qid"),
          col("embedding").as("qv"))))
        .select(col("qid"), col("vec_id").as("id"),
          Sim.cosineNative(base, col("embedding"), col("qv")).as("cos"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
        .filter(col("__rn") <= 10)
      batch.join(broadcast(truth.select(col("qid"), col("id"))), Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
        .select(col("qid"), lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
        .orderBy("qid")
    }),

    // IVF-PQ composed index, end to end: build the cluster-partitioned
    // lists with PQ codes, probe partition+column-pruned ADC candidates,
    // re-rank exactly — same oracle-pinned recall-bound contract as q57.
    // nProbe=6/8 (the q57 budget for unclustered data) × nCandidates=250
    // (the q142 pool): each component alone measures recall 1.0, and the
    // composed bound is verified to hold at both SFs.
    "q147_ann_ivfpq" -> ((s, d) => {
      val base = emb(s, d).filter(col("vec_id") =!= 0)
      val model = Sim.pqTrain(base, col("vec_id"), col("embedding"), m = 16, ks = 16)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-${d.hashCode.toHexString}/emb"
      Sim.ivfPqWritePartitioned(base, col("vec_id"), col("embedding"),
        nCentroids = 8, model, dir, kmeansIters = 4)
      val approx = Sim.ivfPqTopKPartitioned(s, dir, queryVec(s, d),
        col("embedding"), nProbe = 6, nCandidates = 250, k = 10)
      val truth = Sim.bruteForceTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), k = 10)
      approx.select(col("id")).join(broadcast(truth.select(col("id"))), "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
    }),

    // residual IVF-PQ (IVFADC, Jégou TPAMI'11 §IV): codes quantize
    // normalize(v) − anchor(cluster) — HALF q147's code bytes (m=8 vs 16)
    // at the same probe budget, same 0.9 recall bound. The fixture plants
    // real cluster structure (dim `label` boosted), because the residual
    // trick's win exists exactly when data is clustered; on that fixture
    // raw m=8 measures 0.4–0.6 recall at tight candidate budgets while
    // residual holds 0.6–1.0 (OpsSpec pins the dominance sweep).
    "q156_ann_ivfpq_residual" -> ((s, d) => {
      val clustered = emb(s, d).select(col("vec_id"),
        zip_with(col("embedding"),
          sequence(lit(0), lit(63)).cast("array<float>"),
          (x, i) => when(i.cast("int") === col("label"), x + 4.0f)
            .otherwise(x)).cast("array<float>").as("embedding"))
      val base = clustered.filter(col("vec_id") =!= 0)
      val q = clustered.filter(col("vec_id") === 0).select(col("embedding"))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpqres-${d.hashCode.toHexString}/emb"
      Sim.ivfPqWriteResidualPartitioned(base, col("vec_id"), col("embedding"),
        nCentroids = 10, m = 8, ks = 16, dir, kmeansIters = 4)
      val approx = Sim.ivfPqTopKPartitioned(s, dir, q,
        col("embedding"), nProbe = 6, nCandidates = 250, k = 10)
      val truth = Sim.bruteForceTopK(base, col("vec_id"), col("embedding"),
        q, col("embedding"), k = 10)
      approx.select(col("id")).join(broadcast(truth.select(col("id"))), "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
    }),

    // SemDeDup semantic dedup: k-means clusters block the pairwise cosine
    // search (the published web-scale recipe; reuses the IVF centroid
    // machinery). The oracle contract is PLANTED duplicates: exact copies
    // of vec_id 0-4 at ids 100000+ must all be removed (an identical vector
    // provably shares its original's cluster and scores cosine ~1), while
    // every original survives (max original pairwise cosine is 0.51/0.60 at
    // sf0.01/0.1 — measured — so τ=0.9 separates with a wide margin). Both
    // counts are exactly DuckDB-computable.
    "q143_semantic_dedup" -> ((s, d) => {
      import graft.ops.Dedup
      val base = emb(s, d)
      val planted = base.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
          col("label"))
      val survivors = Dedup.semanticDedup(base.unionByName(planted),
        col("vec_id"), col("embedding"), nCentroids = 8, minCosine = 0.9,
        kmeansIters = 4)
      survivors.agg(
        sum(when(col("vec_id") >= 100000L, 1L).otherwise(0L)).as("planted_kept"),
        sum(when(col("vec_id") < 100000L, 1L).otherwise(0L)).as("originals_kept"))
    }),

    // INCREMENTAL SemDeDup: a new batch dedups against the PERSISTED
    // cluster index without re-pairing the corpus. Planted contract like
    // q143: exact copies of indexed vectors (same argmax cluster, cosine
    // ~1) must all drop; genuinely new batch rows all survive (max
    // cross-pair cosine 0.51/0.60 at sf0.01/0.1 — measured for q143 —
    // so tau=0.9 separates)
    "q158_semantic_dedup_incr" -> ((s, d) => {
      import graft.ops.Dedup
      val base = emb(s, d)
      val corpus = base.filter(col("vec_id") < 400)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-semincr-${d.hashCode.toHexString}/emb"
      Sim.ivfWritePartitioned(corpus, col("vec_id"), col("embedding"),
        nCentroids = 8, dir, kmeansIters = 4)
      val planted = corpus.filter(col("vec_id") < 5)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"),
          col("label"))
      val batch = base.filter(col("vec_id") >= 400).unionByName(planted)
      val survivors = Dedup.semanticDedupAgainstIndex(batch, col("vec_id"),
        col("embedding"), dir, minCosine = 0.9)
      survivors.agg(
        sum(when(col("vec_id") >= 200000L, 1L).otherwise(0L)).as("planted_kept"),
        sum(when(col("vec_id") < 200000L, 1L).otherwise(0L)).as("new_kept"))
    }),

    // cross-modal retrieval: vector search → join back to the documents
    // table (vec_id aligns with doc_id) — the "semantic fetch" a RAG/
    // curation pipeline runs; the 10-row hit list broadcasts
    "q90_semantic_fetch" -> ((s, d) => {
      val hits = Sim.bruteForceTopK(
        emb(s, d).filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), k = 10)
      t(s, d, "documents")
        .join(broadcast(hits), col("doc_id") === col("id"))
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("doc_id"))
    }),

    // sign-LSH bucketed top-k — the scale path (bucket prunes candidates)
    "q49_ann_lsh" -> ((s, d) => {
      Sim.lshTopK(
          emb(s, d).filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
          queryVec(s, d), col("embedding"), bits = 4, k = 10)
        .select(col("id").as("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // multimodal plumbing: binary payload column + metadata aggregation
    // (payloads are UTF-8 bytes here — testdata ships no media fixtures;
    // the binary pipeline is payload-agnostic, see graft.ops.Multimodal)
    "q50_multimodal_binary" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("source"), col("text").cast("binary").as("payload"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(octet_length(col("payload"))).cast("long").as("sum_bytes"),
          countDistinct(md5(col("payload"))).as("n_distinct_payload"),
          min("first_byte").as("min_first_byte"))
        .orderBy("source")
    }),

    // IVF ANN: inverted-list probe search with Lloyd-refined (k-means)
    // centroids. The probed top-k itself is engine-specific (depends on
    // which inverted lists the query probes), so the checkable contract is
    // the RECALL BOUND: the IVF result must recover >= 90% of the true
    // (brute-force) top-k — exactly the recall@k metric ScaleSpec tunes on.
    // Both sides are <= k rows, so the intersection is one broadcast join;
    // the boolean is honestly computed on the Spark side and the oracle
    // pins it TRUE (plus the exact truth size). Full-probe ≡ brute-force
    // identity and planted-cluster centroid quality stay spec-pinned.
    // nProbe=6 of 8: the testdata embeddings are UNCLUSTERED (uniform), so
    // recall tracks the probe fraction (measured 0.5-0.7 at nProbe<=5,
    // 1.0 at 6, both SFs) — honoring a 0.9 bound needs a 6/8 budget here;
    // clustered real data reaches it at far smaller budgets, which is what
    // ScaleSpec's planted-cluster recall test pins.
    "q57_ann_ivf" -> ((s, d) => {
      val base = emb(s, d).filter(col("vec_id") =!= 0)
      val ivf = Sim.ivfTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), nCentroids = 8, nProbe = 6, k = 10,
        kmeansIters = 4)
      val truth = Sim.bruteForceTopK(base, col("vec_id"), col("embedding"),
        queryVec(s, d), col("embedding"), k = 10)
      ivf.select(col("id")).join(broadcast(truth.select(col("id"))), "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
    }),

    // BATCHED IVF serving: one pass answers a 3-query batch; the checkable
    // contract is per-query recall vs the brute-force truth (same bound
    // pattern as q57). nProbe=7 of 8: with three independent unclustered
    // queries the bound must hold for EVERY one (measured: worst query 0.7
    // at 5 probes, 0.8 at 6, 1.0 at 7, both SFs) — clustered real data
    // reaches it at small budgets (planted-cluster spec). Brute truth for
    // the batch is computed with the same window shape.
    "q125_ann_ivf_batch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = emb(s, d).filter(col("vec_id") >= 3)
      val queries = emb(s, d).filter(col("vec_id") < 3)
      val batch = Sim.ivfTopKBatch(base, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        nCentroids = 8, nProbe = 7, k = 10, kmeansIters = 4)
      val truth = base
        .crossJoin(broadcast(queries.select(col("vec_id").as("qid"),
          col("embedding").as("qv"))))
        .select(col("qid"), col("vec_id").as("id"),
          Sim.cosineNative(base, col("embedding"), col("qv")).as("cos"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
        .filter(col("__rn") <= 10)
      batch.join(broadcast(truth.select(col("qid"), col("id"))), Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
        .select(col("qid"), lit(10).as("k"),
          (col("n_hits").cast("double") >= lit(0.9) * 10.0).as("recall_ok"))
        .orderBy("qid")
    }),

    // embedding-cosine near-dup removal: keep the lowest id of each
    // within-bucket pair above threshold, report survivors per label
    "q65_embed_dedup" -> ((s, d) => {
      import graft.ops.Dedup
      Dedup.dedupByEmbedding(emb(s, d), col("vec_id"), col("embedding"),
          bits = 4, minCosine = 0.25)
        .groupBy("label").agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),

    // REAL image decode: deterministic synthetic PNGs (dims + solid fill
    // derived from doc_id) decoded by the JDK ImageIO codec. The oracle
    // recomputes the exact pixel sums arithmetically — a fake decode cannot
    // reproduce width×height×channel, so this pins pixel-true decoding.
    "q94_image_stats" -> ((s, d) => {
      Multimodal.decodeImageStats(syntheticMedia(s, d))
        .groupBy((col("media_id") % 4).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_pixels")).as("sum_pixels"),
          sum(col("sum_r")).as("sum_red"),
          sum(col("sum_g")).as("sum_green"),
          max(col("width")).as("max_w"),
          min(col("height")).as("min_h"))
        .orderBy("grp")
    }),

    // REAL image resize: decode → Graphics2D resample to exact 6×3 →
    // re-encode PNG → decode again for stats. Solid fills are exact under
    // any interpolation, so the oracle pins both the output dims and that
    // resampled pixels carry the source color.
    "q95_image_resize" -> ((s, d) => {
      Multimodal.decodeImageStats(
          Multimodal.resizeImages(syntheticMedia(s, d), w = 6, h = 3))
        .groupBy((col("media_id") % 4).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_pixels")).as("sum_pixels"),
          sum(col("sum_r")).as("sum_red"),
          max(col("width")).as("max_w"),
          max(col("height")).as("max_h"))
        .orderBy("grp")
    }),

    // image perceptual dedup: per-image 64-bit dHash (integer area-average
    // luma grid → horizontal gradient bits). The fixtures pin the two
    // arithmetic anchors through the REAL decode path: a solid fill has no
    // gradients (hash exactly 0), a strictly-increasing horizontal
    // gradient sets every bit (hash exactly -1) — so the oracle replays
    // the whole decode→resample→hash pipeline as doc_id arithmetic.
    "q135_image_dhash" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val payload =
            if (id % 5 == 0) Multimodal.syntheticGradientPng(16, 8, 0, 10)
            else Multimodal.syntheticPng(4 + (id % 8).toInt, 4 + (id % 5).toInt,
              (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 11) % 256).toInt)
          Multimodal.MediaRecord(id, "image", payload, "synth")
        }
      Multimodal.imageDHashes(media).toDF()
        .groupBy("dhash")
        .agg(count(lit(1)).as("n"), sum("media_id").as("sum_ids"))
        .orderBy("dhash")
    }),

    // video near-dup key: first-frame dHash through the REAL demux +
    // BI_RGB frame decode — gradient-first-frame videos anchor at -1,
    // solid-frame videos at 0, replayed as doc_id arithmetic
    "q136_video_dhash" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          def solid = {
            val img = new java.awt.image.BufferedImage(16, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val v = (id % 200).toInt
            for (y <- 0 until 8; x <- 0 until 16)
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
            img
          }
          val frames =
            if (id % 4 == 0)
              // frame 1 is SOLID (hash 0): if the op hashed any frame but
              // frame 0 the -1 oracle row would break
              Seq(Multimodal.gradientImage(16, 8, 0, 10), solid)
            else Seq(solid, solid)
          Multimodal.MediaRecord(id, "video",
            Multimodal.encodeAviRgb(frames), "synth")
        }
      Multimodal.videoDHashes(media).toDF()
        .groupBy("dhash")
        .agg(count(lit(1)).as("n"), sum("media_id").as("sum_ids"))
        .orderBy("dhash")
    }),

    // audio near-dup key: envelope gradient hash through the REAL WAV
    // decode — rising-envelope clips anchor at -1, constant-amplitude at 0
    "q137_audio_envelope_hash" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val payload =
            if (id % 3 == 0)
              Multimodal.syntheticEnvelopeWav(650, lo = 50, slope = 2)
            else
              Multimodal.syntheticEnvelopeWav(400 + (id % 200).toInt,
                lo = 100 + (id % 500).toInt, slope = 0)
          Multimodal.MediaRecord(id, "audio", payload, "synth")
        }
      Multimodal.audioEnvelopeHashes(media).toDF()
        .groupBy("ehash")
        .agg(count(lit(1)).as("n"), sum("media_id").as("sum_ids"))
        .orderBy("ehash")
    }),

    // REAL audio decode: deterministic mono PCM16 WAVs (sample i =
    // ((seed + 7i) mod 2003) - 1001, n and seed derived from doc_id),
    // decoded by the JDK javax.sound.sampled codec — the oracle recomputes
    // every |sample| arithmetically, pinning sample-true PCM decoding.
    "q98_audio_stats" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          Multimodal.MediaRecord(id, "audio",
            Multimodal.syntheticWav(
              nSamples = 500 + (id % 300).toInt, seed = (id % 997).toInt),
            "synth")
        }
      Multimodal.decodeAudioStats(media)
        .groupBy((col("media_id") % 4).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_samples")).as("sum_samples"),
          sum(col("sum_abs")).as("sum_abs"),
          max(col("max_abs")).as("max_abs"))
        .orderBy("grp")
    }),

    // REAL video decode: deterministic synthetic AVIs (RIFF container,
    // uncompressed BI_RGB solid-fill frames, geometry + per-frame colors
    // derived from doc_id) demuxed and decoded by the pure-JDK AVI codec.
    // BI_RGB is lossless, so the oracle recomputes the exact channel sums
    // across every frame arithmetically — a fake demux cannot reproduce
    // per-frame-varying colors × frame counts.
    "q99_video_stats" -> ((s, d) => {
      Multimodal.decodeVideoStats(syntheticVideos(s, d))
        .groupBy((col("media_id") % 4).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_frames").cast("long")).as("sum_frames"),
          sum(col("n_pixels")).as("sum_pixels"),
          sum(col("sum_r")).as("sum_red"),
          sum(col("sum_g")).as("sum_green"),
          max(col("width")).as("max_w"),
          min(col("height")).as("min_h"))
        .orderBy("grp")
    }),

    // blocked all-pairs embedding similarity: top-10 within-LSH-bucket pairs
    "q51_embed_block_pairs" -> ((s, d) => {
      Sim.bucketedPairs(emb(s, d), col("vec_id"), col("embedding"), bits = 8)
        .orderBy(col("cos").desc, col("i"), col("j")).limit(10)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("i"), col("j"))
    }),

    // k-NN graph over LSH bucket candidates — the input structure of
    // graph-based near-dup clustering / diversity pruning; every edge and
    // rank pinned for the first 10 vectors
    "q165_knn_graph" -> ((s, d) => {
      Sim.knnGraph(emb(s, d), col("vec_id"), col("embedding"),
          bits = 8, k = 3)
        .filter(col("i") < 10)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"), col("rk"))
        .orderBy("i", "rk")
    }),

    // embedding-curation capstone: diverse + central data selection — the
    // k-NN graph feeds BOTH integer PageRank (centrality) and semantic
    // clustering (diversity); each cluster keeps its most central member
    // via the partial-aggregable min-struct argmax (never a window)
    "q215_central_select" -> ((s, d) => {
      import graft.ops.Dedup
      val e = emb(s, d)
      // ONE graph build shared by centrality and clustering. No explicit
      // cache: the repeated references are identical subplans and
      // ReuseExchange dedupes their shuffles (measured: an explicit
      // .cache() was 1.5× SLOWER at sf0.1 — materialization overhead with
      // no recompute left to save).
      val g = Sim.knnGraph(e, col("vec_id"), col("embedding"), bits = 8,
        k = 3)
      val pr = Sim.pagerank(g, iters = 2)
      val edges = g.filter(col("cos") >= 0.3)
        .select(least(col("i"), col("j")).as("i"),
          greatest(col("i"), col("j")).as("j"))
        .distinct()
      val cl = Dedup.dupClusters(edges)
      cl.join(pr, cl("node") === pr("v"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_nodes"),
          min(struct((-col("pr")).as("np"), col("node").as("nd"))).as("best"))
        .select(col("cluster"), col("n_nodes"),
          col("best.nd").as("kept"), (-col("best.np")).as("kept_pr"))
        .orderBy("cluster")
    }),

    // margin-based bitext mining (CCMatrix rule): en↔de candidate pairs
    // scored by ratio margin — raw cosine normalized by both endpoints'
    // cross-side neighborhood averages; top-15 by the rounded margin
    "q207_bitext_margin" -> ((s, d) => {
      val e = emb(s, d).join(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
        .filter(col("lang").isin("en", "de"))
      Sim.marginBitextPairs(e, col("vec_id"), col("embedding"), col("lang"),
          bits = 4, k = 3)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"),
          col("margin"))
        .orderBy(col("margin").desc, col("i"), col("j"))
        .limit(15)
    }),

    // reciprocal nearest neighbors: pairs ranking EACH OTHER top-3 — the
    // strict high-precision match rule that kills hubs structurally; one
    // self-join of the bounded edge list, both direction ranks pinned
    "q230_mutual_nn" -> ((s, d) => {
      Sim.mutualNearestNeighbors(emb(s, d), col("vec_id"), col("embedding"),
          bits = 8, k = 3)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"),
          col("rk_ij"), col("rk_ji"))
        .orderBy("i", "j")
    }),

    // incremental k-NN graph maintenance: batch (vec_id < 50) folded into
    // the corpus graph WITHOUT re-pairing the corpus — the oracle pins the
    // exactness invariant by replaying the full-rebuild graph: incremental
    // ≡ from-scratch, bit-for-bit, every edge and rank
    "q228_knn_graph_append" -> ((s, d) => {
      val all = emb(s, d)
      val corpus = all.filter(col("vec_id") >= 50)
      val batch = all.filter(col("vec_id") < 50)
      val old = Sim.knnGraph(corpus, col("vec_id"), col("embedding"),
        bits = 8, k = 3)
      Sim.knnGraphAppend(old, corpus, batch, col("vec_id"), col("embedding"),
          bits = 8, k = 3)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"), col("rk"))
        .orderBy("i", "rk")
    }),

    // integer-exact PageRank over the k-NN graph: neighborhood centrality
    // for data selection — 2 rounds, every score on the 1e6 integer grid
    // pinned bit-for-bit (float PageRank would be summation-order-hazardous)
    "q202_graph_pagerank" -> ((s, d) => {
      val g = Sim.knnGraph(emb(s, d), col("vec_id"), col("embedding"),
        bits = 8, k = 3)
      Sim.pagerank(g, iters = 2)
        .select(col("v").as("vec_id"), col("pr"))
        .orderBy("vec_id")
    }),

    // one-hop k-NN label propagation: seeds = every 5th vector, each
    // non-seed gets the majority label of its 5 nearest seed neighbors —
    // every prediction, vote count, and degree pinned exactly
    "q197_label_propagation" -> ((s, d) => {
      Sim.labelPropagate(emb(s, d), col("vec_id"), col("embedding"),
          col("label"), pmod(col("vec_id"), lit(5)) === 0, bits = 8, k = 5)
        .select(col("id").as("vec_id"), col("label").as("pred_label"),
          col("votes"), col("deg"))
        .orderBy("vec_id")
    }),

    // multiprobe label propagation: Hamming-1 bucket probes close q197's
    // isolate gap (126 → 385 of 400 non-seeds labeled) with bits+1 probe
    // keys per row — still an equi-join, never a seed-set scan
    "q224_label_prop_multiprobe" -> ((s, d) => {
      Sim.labelPropagateMultiprobe(emb(s, d), col("vec_id"), col("embedding"),
          col("label"), pmod(col("vec_id"), lit(5)) === 0, bits = 8, k = 5)
        .select(col("id").as("vec_id"), col("label").as("pred_label"),
          col("votes"), col("deg"))
        .orderBy("vec_id")
    }),

    // leave-one-out k-NN confusion matrix: every labeled vector predicted
    // from its 5 nearest others — the embedding-quality audit that decides
    // whether q197's propagation can be trusted; every cell pinned
    "q198_knn_confusion" -> ((s, d) => {
      Sim.knnConfusion(emb(s, d), col("vec_id"), col("embedding"),
          col("label"), bits = 8, k = 5)
        .orderBy("true_label", "pred_label")
    }),

    // hard-negative mining for contrastive training: per anchor, the 3
    // most-similar embeddings from a DIFFERENT source — every rank pinned
    "q164_hard_negatives" -> ((s, d) => {
      val e = emb(s, d).join(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      Sim.hardNegatives(e.filter(col("vec_id") =!= 0), col("vec_id"),
          col("embedding"), col("source"),
          e.filter(col("vec_id").isin(1L, 2L, 3L)), col("vec_id"),
          col("embedding"), col("source"), k = 3)
        .select(col("anchor"), col("id").as("vec_id"),
          round(col("cos"), 6).as("cos"), col("rk"))
        .orderBy("anchor", "rk")
    }),

    // serving-scale hard-negative mining: mine from the IVF-partitioned
    // layout (scan = probed inverted lists only, partition-pruned) and pin
    // per-anchor agreement with q164's brute miner. nProbe = nCentroids
    // (full coverage) makes the agreement a THEOREM rather than a recall
    // bet — at sf0.001 the 7-of-8 budget genuinely missed a neighbor in
    // the unprobed list and the pinned-TRUE oracle went red; partial-probe
    // recall economics stay covered by q125/q156, while this query pins
    // the partitioned write→prune→read-back→residual-score plumbing.
    // Group metadata joins in AFTER pruning
    "q170_hard_negatives_ivf" -> ((s, d) => {
      val docsrc = t(s, d, "documents").select(col("doc_id"), col("source"))
      val e = emb(s, d).join(docsrc, col("vec_id") === col("doc_id"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val anchors = e.filter(col("vec_id").isin(1L, 2L, 3L))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-hnivf-${d.hashCode.toHexString}/emb"
      Sim.ivfWritePartitioned(corpus, col("vec_id"), col("embedding"),
        nCentroids = 8, dir, kmeansIters = 4)
      val idx = Sim.hardNegativesFromIndex(s, dir,
        docsrc, col("doc_id"), col("source"),
        anchors, col("vec_id"), col("embedding"), col("source"),
        nProbe = 8, k = 3)
      val brute = Sim.hardNegatives(corpus, col("vec_id"), col("embedding"),
        col("source"), anchors, col("vec_id"), col("embedding"), col("source"),
        k = 3)
      idx.join(broadcast(brute.select(col("anchor"), col("id"))),
          Seq("anchor", "id"))
        .groupBy("anchor").agg(count(lit(1)).as("n_hits"))
        .select(col("anchor"), lit(3).as("k"),
          (col("n_hits") >= 3L).as("agree_ok"))
        .orderBy("anchor")
    }),

    // graph-based semantic clustering: connected components over the
    // cos ≥ 0.95 edges of the k-NN graph — the grouping that closes
    // near-dup CHAINS pairwise dedup misses. Planted contract like q143:
    // two extra copies of each of the first 4 vectors (max organic
    // cross-pair cosine is 0.51 at sf0.01 / 0.60 at sf0.1, so 0.95
    // separates cleanly) must land in exactly 4 three-member components;
    // every component's membership pinned via count + id-sum
    "q182_semantic_clusters" -> ((s, d) => {
      val base = emb(s, d)
      def copies(off: Long) = base.filter(col("vec_id") < 4)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"),
          col("label"))
      Sim.semanticClusters(
          base.unionByName(copies(100000L)).unionByName(copies(200000L)),
          col("vec_id"), col("embedding"), bits = 8, k = 3, minCos = 0.95)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_nodes"), sum("node").as("sum_nodes"))
        .orderBy("cluster")
    }),

    // embedding preprocessing (SemDeDup normalize / anisotropy centering /
    // MRL prefix truncation): raw norm, unit-norm proof, first centered
    // coordinate against the corpus mean, and the renormalized 8-dim
    // prefix (first coord + checksum) pinned per vector
    "q190_embed_preprocess" -> ((s, d) => {
      val e = emb(s, d)
      val mean = Sim.meanVector(e, col("embedding"))
      e.filter(col("vec_id") < 12)
        .select(col("vec_id"),
          round(Sim.norm(Sim.asDouble(col("embedding"))), 6).as("n6"),
          round(Sim.norm(Sim.l2Normalize(col("embedding"))), 6).as("u6"),
          round(element_at(Sim.center(col("embedding"), mean), 1), 6)
            .as("c1"),
          round(element_at(Sim.truncateDims(col("embedding"), 8), 1), 6)
            .as("t1"),
          round(aggregate(Sim.truncateDims(col("embedding"), 8), lit(0.0),
            (a, x) => a + x), 6).as("tsum"))
        .orderBy("vec_id")
    }),

    // SEMANTIC decontamination: corpus rows whose embedding is ≥0.95
    // similar to ANY benchmark embedding drop in one broadcast
    // nested-loop anti join. Planted contract: every 37th corpus vector
    // is overwritten with benchmark vector 0's embedding (cos ≈ 1) and
    // must drop; organic cross-pairs top out at 0.51/0.60 cosine
    // (q143-measured), so no innocent row is near the threshold.
    // Survivors membership pinned per label (count + id-sum)
    "q188_semantic_decontam" -> ((s, d) => {
      import graft.ops.Dedup
      val e = emb(s, d)
      val b0 = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("b0")))
      val corpus = e.filter(pmod(col("vec_id"), lit(101)) =!= 0)
        .crossJoin(b0)
        .select(col("vec_id"), col("label"),
          when(pmod(col("vec_id"), lit(37)) === 0, col("b0"))
            .otherwise(col("embedding")).as("v"))
      val bench = e.filter(pmod(col("vec_id"), lit(101)) === 0)
      Dedup.semanticDecontaminate(corpus, col("v"),
          bench, col("embedding"), minCos = 0.95)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_ids"))
        .orderBy("label")
    }),

    // cross-table ANN JOIN: per left (query) row, top-3 right (corpus)
    // rows among shared-LSH-bucket candidates — the retrieval join when
    // both sides are too big to broadcast; every edge and rank pinned
    "q174_ann_join" -> ((s, d) => {
      val e = emb(s, d)
      Sim.annJoin(e.filter(col("vec_id") < 30), col("vec_id"),
          col("embedding"),
          e.filter(col("vec_id") >= 30), col("vec_id"), col("embedding"),
          bits = 4, k = 3)
        .filter(col("i") < 10)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"), col("rk"))
        .orderBy("i", "rk")
    }),

    // online embedding admission (streaming.EmbedStream.gate, batch leg):
    // arrivals = organic vectors ∪ planted exact dups (replayed organics
    // under +1e6 ids — must lose the min-id dedup) ∪ planted near-dups of
    // the FROZEN reference (refs scaled by 1.0001 in double then cast back
    // to float: cosine ≈ 1 and the sign pattern — hence the LSH bucket —
    // is provably unchanged, so the single-probe anti join MUST kill them).
    // Census per plant category: every organic admits, every plant dies
    "q264_embed_admission" -> ((s, d) => {
      val all = emb(s, d)
      val ref = all.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select("embedding")
      val organic = all.filter(pmod(col("vec_id"), lit(7)) =!= 0)
        .select(col("vec_id"), col("embedding"))
      val dupPlants = organic.filter(pmod(col("vec_id"), lit(11)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nearPlants = all.filter(pmod(col("vec_id"), lit(7)) === 0 &&
          pmod(col("vec_id"), lit(3)) === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.0001)).cast("float"))
            .as("embedding"))
      val arrivals = organic.unionByName(dupPlants).unionByName(nearPlants)
      val admitted = graft.streaming.EmbedStream.gate(arrivals, ref,
        bits = 8, minCosine = 0.95)
      arrivals.select(col("vec_id"),
          when(col("vec_id") >= 2000000L, lit("near_plant"))
            .when(col("vec_id") >= 1000000L, lit("dup_plant"))
            .otherwise(lit("organic")).as("category"))
        .join(admitted.select(col("vec_id"), lit(1L).as("__adm")),
          Seq("vec_id"), "left")
        .groupBy("category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__adm"), lit(0L))).as("n_admitted"),
          coalesce(sum(when(col("__adm").isNotNull, col("vec_id"))), lit(0L))
            .cast("long").as("sum_admitted_ids"))
        .orderBy("category")
    }),

    // semantic-coherent context packing (in-context pretraining): the k-NN
    // graph's within-source edges define a deterministic greedy walk (move
    // to the best-RANKED unvisited neighbor, else jump to the min unvisited
    // id), and the concat-and-cut packer runs in WALK order so graph
    // neighbors share context windows — the pack-order layer q97/q251 were
    // missing. Walk position, chunk census and bin span pinned per doc.
    "q268_semantic_pack" -> ((s, d) => {
      import graft.ops.Chunking
      val docs = t(s, d, "documents")
      // knn edges + greedy walk (the prefix shared with q274/q275)
      val order = semWalkOrder(s, d)
      val chunks = Chunking.chunk(docs, col("doc_id"), col("text"),
        width = 32, stride = 32)
      val packed = Chunking.packOrdered(chunks.join(order, "doc"),
        col("g"), ctx = 128, Seq(col("pos"), col("chunk_idx")))
      packed.groupBy("g", "pos", "doc")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tok").cast("long").as("sum_tok"),
          min("bin").cast("long").as("bin_first"),
          max("bin").cast("long").as("bin_last"))
        .orderBy("g", "pos")
    }),

    // the trainer-facing boundary table for the SEMANTIC packing — q251's
    // offsets for the q268 stream: where each chunk starts inside its
    // concat-and-cut context window (offset = running-sum-before-chunk
    // mod ctx; a chunk may straddle windows — bin is where it STARTS,
    // exactly GPT-style concat-and-cut). Same one-window shape as q268
    "q275_semantic_pack_offsets" -> ((s, d) => {
      import graft.ops.Chunking
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val order = semWalkOrder(s, d)
      val chunks = Chunking.chunk(docs, col("doc_id"), col("text"),
        width = 32, stride = 32)
      val packed = Chunking.packOrdered(chunks.join(order, "doc"),
        col("g"), ctx = 128, Seq(col("pos"), col("chunk_idx")))
      val w = Window.partitionBy("g").orderBy("pos", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      packed
        .withColumn("__cum", sum("n_tok").over(w))
        .withColumn("offset",
          pmod(col("__cum") - col("n_tok"), lit(128)).cast("int"))
        .filter(col("doc") < 60)
        .select(col("g"), col("pos"), col("doc"), col("chunk_idx"),
          col("n_tok"), col("bin").cast("long").as("bin"), col("offset"))
        .orderBy("g", "pos", "chunk_idx")
    }),

    // q65's embedding near-dup removal at the PRODUCTION index width
    // (bits=12 — the config the 100 TB recipe runs, measured 1.2× at 10×
    // data in r13, README's scaling table; this is its correctness half).
    // Near-dup plants are positive scalings, so their sign pattern — and
    // hence their bucket at ANY width — is preserved exactly, while
    // organic pairs top out at cos ≈ 0.51 at both SFs. The oracle is
    // BRUTE-FORCE all-pairs (no bucket anywhere in the twin): the query
    // pins that production-width bucketing loses NOTHING vs exhaustive
    // search on this corpus. Survivor SET pinned by the order-free XOR
    // membership checksum (the q231 fold), not just counts.
    "q269_embed_dedup_prod" -> ((s, d) => {
      import graft.ops.Dedup
      val all = emb(s, d)
      val plants = all.filter(pmod(col("vec_id"), lit(9)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.0001)).cast("float"))
            .as("embedding"))
      val corpus = all.select(col("vec_id"), col("embedding"))
        .unionByName(plants)
      val kept = Dedup.dedupByEmbedding(corpus, col("vec_id"),
        col("embedding"), bits = 12, minCosine = 0.9)
      corpus.select(col("vec_id"),
          when(col("vec_id") >= 1000000L, lit("plant"))
            .otherwise(lit("organic")).as("category"))
        .join(kept.select(col("vec_id"), lit(1L).as("__k")),
          Seq("vec_id"), "left")
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          col("vec_id").cast("string"), 99))
        .groupBy("category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__k"), lit(0L))).as("n_kept"),
          coalesce(expr("bit_xor(CASE WHEN __k IS NOT NULL THEN __h END)"),
            lit(0L)).as("kept_checksum"))
        .orderBy("category")
    }),

    // per-source TOPIC mixture — the third composition axis next to
    // format (q266) and language (q44/q254), feeding the q250 recipe:
    // nearest-centroid assignment against a FIXED planted-lattice
    // centroid table (the [[Sim.assignCentroids]] projection; in
    // production the table comes from kmeansCentroids — same shape,
    // driver-sized by design) so DuckDB replays the argmax exactly;
    // shares on the integer permille grid (ExactRound discipline)
    "q271_topic_mix" -> ((s, d) => {
      import graft.ops.ExactRound
      val assigned = Sim.assignCentroids(emb(s, d), col("vec_id"),
        col("embedding"), TopicCentroids)
      val withSrc = assigned.join(
        t(s, d, "documents").select(col("doc_id").as("id"), col("source")),
        "id")
      val per = withSrc.groupBy("source", "topic")
        .agg(count(lit(1)).as("n_docs"))
      val tot = withSrc.groupBy("source")
        .agg(count(lit(1)).as("__tot"))
      per.join(broadcast(tot), "source")
        .select(col("source"), col("topic"), col("n_docs"),
          ExactRound.halfUpDivCol(col("n_docs") * lit(1000L), col("__tot"))
            .as("share_permille"))
        .orderBy("source", "topic")
    }),

    // topic-DRIFT monitor between two release snapshots (q271's topic
    // axis under q193/q212's two-release diff discipline): release A =
    // the embeddings as-is; release B = the same corpus with a PLANTED
    // drifted source — src7's docs re-embedded onto centroid 2's exact
    // lattice direction, so its whole mass provably lands on topic 2.
    // Per-(source, topic) share deltas on the integer permille grid; a
    // topic absent from one release reports 0 (appearing/vanishing
    // topics visible). src7 shows the full drift, every other source's
    // delta is exactly 0 — both pinned by the DuckDB replay
    "q278_topic_drift" -> ((s, d) => {
      val docsrc = t(s, d, "documents")
        .select(col("doc_id").as("id"), col("source"))
      val e = emb(s, d)
      def assigned(vecs: DataFrame) =
        Sim.assignCentroids(vecs, col("vec_id"), col("embedding"),
            TopicCentroids)
          .join(docsrc, "id")
          .select(col("source").as("g"), col("topic"))
      val snapB = e.join(docsrc, e("vec_id") === docsrc("id"))
        .select(col("vec_id"),
          when(col("source") === "src7", typedlit(TopicCentroids(2)._2))
            .otherwise(col("embedding")).as("embedding"))
      Sim.shareDrift(assigned(e), assigned(snapB))
        .select(col("g").as("source"), col("topic"), col("n_a"), col("n_b"),
          col("share_a_permille"), col("share_b_permille"),
          col("delta_permille"))
        .orderBy("source", "topic")
    }),

    // STREAMING topic-drift monitor, batch-pinned form (one code path —
    // StreamStaticSpec pins stream ≡ batch with the drift planted
    // mid-stream): arrivals = topic-assigned embedding rows one second
    // apart, 5-minute tumbling windows, diffed against the frozen
    // snapshot's shares. src7 vectors from t >= 300 s collapse onto
    // topic 2 — later windows show the drift, earlier ones don't; every
    // vocabulary topic emits per (window, group) incl. zero rows, all on
    // the exact permille grid
    "q284_drift_stream_monitor" -> ((s, d) => {
      import graft.streaming.DriftStream
      val docsrc = t(s, d, "documents")
        .select(col("doc_id").as("id"), col("source"))
      val e = emb(s, d)
      val base = 1767225600000L // 2026-01-01 00:00:00 UTC
      def assigned(vecs: DataFrame) =
        Sim.assignCentroids(vecs, col("vec_id"), col("embedding"),
            TopicCentroids)
          .join(docsrc, "id")
      val snapShares = DriftStream.refShares(
        assigned(e).select(col("source").as("g"), col("topic")),
        col("g"), col("topic"))
      val planted = e.join(docsrc, e("vec_id") === docsrc("id"))
        .select(col("vec_id"),
          when(col("source") === "src7" && col("vec_id") >= 300,
            typedlit(TopicCentroids(2)._2)).otherwise(col("embedding"))
            .as("embedding"))
      val arrivals = assigned(planted)
        .select(col("source").as("g"), col("topic"),
          timestamp_millis(lit(base) + col("id") * lit(1000L)).as("ts"))
      DriftStream.shareMonitor(arrivals, col("ts"), col("g"), col("topic"),
          0L until 4L, snapShares, "5 minutes", "10 minutes")
        .orderBy("win_ms", "g", "topic")
    }),

    // does the q268 walk actually BUY coherence? Whole docs packed into
    // 256-token bins two ways — walk order vs id order — and every
    // within-bin pair's cosine summed on the micro grid per source. The
    // numbers are MEASURED, not a pinned bet (both twins replay both
    // strategies). On THIS corpus the honest reading: embeddings are
    // near-orthogonal organics (max pair cos ≈ 0.51), so the per-source
    // effect is noise-level (sem beats id on 8/20 sources at sf0.01)
    // while the corpus-wide mean still moves the right way (−0.0024 vs
    // −0.0058); the clustered-data win is pinned structurally by
    // OpsSpecR14's planted-cluster same-bin test. Pair joins are
    // within-(source, bin) — bins hold a few docs by the token budget,
    // so the pair set is bounded, never quadratic in the source
    "q274_pack_coherence" -> ((s, d) => {
      import graft.ops.{TextAnalysis => TA}
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        TA.tokenCount(col("text")).cast("long").as("__ntok"))
      val order = semWalkOrder(s, d)
      val base = docs.join(order, docs("doc_id") === order("doc"))
        .select(col("g"), col("doc"), col("pos"), col("__ntok"))
      def bins(orderCols: Seq[org.apache.spark.sql.Column]) = {
        val w = Window.partitionBy("g").orderBy(orderCols: _*)
        base.withColumn("__cum", sum(col("__ntok")).over(w))
          .withColumn("bin", floor((col("__cum") - col("__ntok")) / 256))
          .select(col("g"), col("doc"), col("bin"))
      }
      val ev = emb(s, d).select(col("vec_id"), col("embedding"))
      def coherence(b: DataFrame, tag: String) = {
        val withV = b.join(ev, b("doc") === ev("vec_id"))
          .select(col("g"), col("bin"), col("doc"), col("embedding"))
        val pr = withV.as("a").join(withV.as("b"),
          col("a.g") === col("b.g") && col("a.bin") === col("b.bin") &&
            col("a.doc") < col("b.doc"))
        pr.select(col("a.g").as("source"),
            Sim.cosineNative(pr, col("a.embedding"), col("b.embedding"))
              .as("__cos"))
          .groupBy("source")
          .agg(count(lit(1)).as(s"n_pairs_$tag"),
            sum(round(col("__cos") * lit(1e6)).cast("long"))
              .as(s"cos_micro_$tag"))
      }
      coherence(bins(Seq(col("pos"))), "sem")
        .join(coherence(bins(Seq(col("doc"))), "id"), "source")
        .orderBy("source")
    }),

    // margin-based cross-corpus mining (Sim.marginMine — the bitext
    // recipe): sides = vec_id parity; every 10th even vector is COPIED
    // into the target side (+9000001), so planted pairs score cos_micro
    // 1e6 with a margin far above the organic neighborhood ratio and
    // come back MUTUAL. All arithmetic integer after the per-pair 1e-6
    // quantization; the census pins every mined pair's bucket +
    // membership checksum (organic borderline pairs land wherever BOTH
    // engines put them — the grid, not the threshold, is the contract).
    // The vec_id < 1000 slice is the SHARD-PAIR contract (marginMine's
    // scaladoc): one bounded kernel invocation — global mining is the
    // parallel cross product of such kernels, so the benchmark row must
    // measure the kernel, not an unsharded quadratic (the q279
    // fixed-slice discipline; covers the whole table at the driver SFs)
    "q289_margin_mining" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 1000)
      val withPlants = base.unionByName(
        base.filter(col("vec_id") % 2 === 0 && col("vec_id") % 10 === 2)
          .select((col("vec_id") + 9000001L).as("vec_id"), col("embedding")))
      val srcSide = withPlants.filter(col("vec_id") % 2 === 0)
      val tgtSide = withPlants.filter(col("vec_id") % 2 === 1)
      Sim.marginMine(srcSide, col("vec_id"), col("embedding"),
          tgtSide, col("vec_id"), col("embedding"), k = 4)
        .withColumn("planted", (col("tid") >= 9000001L).cast("int"))
        .withColumn("high", (col("margin_permille") >= 1300L).cast("int"))
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          concat_ws(":", col("sid"), col("tid")), 31))
        .groupBy("planted", "high", "mutual")
        .agg(count(lit(1)).as("n_pairs"),
          sum("cos_micro").as("sum_cos_micro"),
          sum("margin_permille").as("sum_margin"),
          min("margin_permille").as("min_margin"),
          max("margin_permille").as("max_margin"),
          expr("bit_xor(__h)").as("pair_checksum"))
        .orderBy("planted", "high", "mutual")
    }),

    // EVOLVING-index vector admission (Dedup.admitWavesEmbed — the
    // embedding twin of q288, the batch twin of EmbedStream.evolvingGate):
    // three arrival waves against a frozen seed index, admitted vectors'
    // (bucket, vec) rows joining the index between waves. exact_plant =
    // same vector in its source's own wave (min-id); near_plant = the
    // wave-0 vector SCALED ×2 arriving at wave 2 (same sign bucket, cosine
    // exactly cos(v,v) — dies ONLY via the evolved index, the q269
    // positive-scaling trick); ref_plant = seed copy (frozen-index kill)
    "q290_embed_evolving" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"), col("embedding"))
      val seedIdx = graft.ops.Dedup.embedIndexOf(
        base.filter(col("vec_id") % 5 === 0), col("vec_id"),
        col("embedding"), bits = 4)
      val organic = base.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(3L)).as("wave"),
          lit("organic").as("category"))
      val exactP = organic.filter(pmod(col("vec_id"), lit(7)) === 2)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          col("wave"), lit("exact_plant").as("category"))
      val nearP = organic
        .filter(col("wave") === 0 && pmod(col("vec_id"), lit(7)) === 1)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
          lit(2L).as("wave"), lit("near_plant").as("category"))
      val refP = base
        .filter(col("vec_id") % 5 === 0 && pmod(col("vec_id"), lit(7)) === 3)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(3L)).as("wave"),
          lit("ref_plant").as("category"))
      val arrivals = organic.unionByName(exactP).unionByName(nearP)
        .unionByName(refP)
      val admitted = graft.ops.Dedup.admitWavesEmbed(arrivals,
        col("vec_id"), col("embedding"), col("wave"), seedIdx,
        bits = 4, minCosine = 0.95)
      arrivals
        .select(col("vec_id"), col("wave").cast("int").as("wave"),
          col("category"))
        .join(admitted.select(col("vec_id"), lit(1L).as("__a")),
          Seq("vec_id"), "left")
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          col("vec_id").cast("string"), 83))
        .groupBy("wave", "category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__a"), lit(0L))).as("n_admitted"),
          coalesce(expr("bit_xor(CASE WHEN __a IS NOT NULL THEN __h END)"),
            lit(0L)).as("admitted_checksum"))
        .orderBy("wave", "category")
    }),

    // EVOLVING-index MEDIA admission (Dedup.admitWavesMedia — q288/q290's
    // discipline on perceptual hashes, through the REAL codec path): every
    // payload is a bitPatternImage fixture whose decoded dHash is EXACTLY
    // a chosen doc-id function — spread(id) maps each of 14 id bits onto a
    // 4-bit group, so distinct organics sit >= 4 bits apart and the
    // planted distances are exact. maxHamming = 1: exact_plant (same-wave
    // copy, Hamming 0) dies within-wave; near_plant (1 bit off a wave-0
    // admission, arriving wave 2) dies ONLY via the evolved index;
    // miss_plant (2 bits off) admits - the threshold boundary; kind_plant
    // (a VIDEO whose first-frame hash EQUALS an admitted image hash)
    // admits - hash spaces never compare across kinds
    "q300_media_evolving" -> ((s, d) => {
      import s.implicits._
      def spread(n: Long): Long =
        (0 until 14).map(i =>
          if (((n >> i) & 1L) == 1L) 0xFL << (4 * i) else 0L).sum
      val ids = t(s, d, "documents").select(col("doc_id")).as[Long]
      val organic = ids.map(id => (id, "image",
        Multimodal.syntheticBitPng(spread(id % 16384)), id % 3, "organic"))
      val exactP = ids.filter((id: Long) => id % 7 == 2)
        .map(id => (id + 10000000L, "image",
          Multimodal.syntheticBitPng(spread(id % 16384)), id % 3,
          "exact_plant"))
      val nearP = ids.filter((id: Long) => id % 3 == 0 && id % 7 == 1)
        .map(id => (id + 20000000L, "image",
          Multimodal.syntheticBitPng(spread(id % 16384) ^ 2L), 2L,
          "near_plant"))
      val missP = ids.filter((id: Long) => id % 3 == 0 && id % 7 == 3)
        .map(id => (id + 30000000L, "image",
          Multimodal.syntheticBitPng(spread(id % 16384) ^ 17L), 2L,
          "miss_plant"))
      val kindP = ids.filter((id: Long) => id % 3 == 0 && id % 7 == 4)
        .map(id => (id + 40000000L, "video",
          Multimodal.syntheticBitAvi(spread(id % 16384)), 1L,
          "kind_plant"))
      val rel = organic.union(exactP).union(nearP).union(missP)
        .union(kindP).toDF("mid", "kind", "payload", "wave", "category")
      val hashes = Multimodal.perceptualHashes(
          rel.select(col("mid").as("media_id"), col("kind"),
            col("payload"), lit("synth").as("meta_source"))
            .as[Multimodal.MediaRecord])
        .toDF()
        .select(col("media_id").as("doc"), col("kind"), col("phash"))
      val hashedWaves = hashes
        .join(rel.select(col("mid"), col("wave")), col("doc") === col("mid"))
        .drop("mid")
      val emptyIdx = s.range(0).select(col("id").as("doc"),
        lit("").as("kind"), col("id").as("phash"))
      val admitted = graft.ops.Dedup.admitWavesMedia(hashedWaves,
        col("wave"), emptyIdx, maxHamming = 1)
      rel.select(col("mid"), col("wave").cast("int").as("wave"),
          col("category"))
        .join(admitted.select(col("doc").as("mid"), lit(1L).as("__a")),
          Seq("mid"), "left")
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          col("mid").cast("string"), 83))
        .groupBy("wave", "category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__a"), lit(0L))).as("n_admitted"),
          coalesce(expr("bit_xor(CASE WHEN __a IS NOT NULL THEN __h END)"),
            lit(0L)).as("admitted_checksum"))
        .orderBy("wave", "category")
    }),

    // retrieval-quality EVALUATION table (Sim.retrievalEval): the q150
    // 3-query brute top-10 scored against label-matched gold sets —
    // recall@10 / precision@10 on the half-up permille grid and the
    // reciprocal rank as an exact 1e6 integer, so the suite MRR is an
    // integer mean. qid 3 is the EMPTY-RETRIEVAL plant (in truth, zero
    // retrieved rows — an IVF ranker on an empty probe set): the eval
    // seeds from retrieved ∪ truth, so it must emit the hits=0 /
    // NULL-rank row instead of silently inflating the suite MRR (the
    // r16 ADVICE contract). Otherwise organic values — the grid IS the
    // contract
    "q291_retrieval_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val queries = emb(s, d).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("__qv"),
          col("label").as("__ql"))
      val corpus = emb(s, d).filter(col("vec_id") >= 4)
      val crossed = corpus.crossJoin(broadcast(queries))
      val retrieved = crossed
        .select(col("qid"), col("vec_id").as("id"),
          Sim.cosineNative(crossed, col("embedding"), col("__qv"))
            .as("__cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("__cos").desc, col("id"))))
        .filter(col("rk") <= 10 && col("qid") < 3)
      val truth = corpus.join(broadcast(queries), col("label") === col("__ql"))
        .select(col("qid"), col("vec_id").as("id"))
      Sim.retrievalEval(retrieved, col("qid"), col("id"), col("rk"),
          truth, col("qid"), col("id"), k = 10)
        .orderBy("qid")
    }),

    // INDEX-BOUNDED margin mining (Sim.marginMineFromCentroids) vs the
    // brute shard-pair kernel (Sim.marginMine) on IDENTICAL sides — the
    // q289 fixture verbatim (planted identical copies at +9000001 score
    // cos_micro exactly 1e6 and must come back MUTUAL in BOTH forms):
    // candidates come from the 4-centroid planted lattice with nProbe=2,
    // so the planted pairs (identical vectors → identical probe sets)
    // land in both miners while organic best-targets may differ (the
    // IVF approximation contract — margins recompute over the candidate
    // set). The full-outer diff table pins both pair sets, both margin
    // grids, and the planted rows all landing in found='both'
    "q294_margin_index" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 1000)
      val withPlants = base.unionByName(
        base.filter(col("vec_id") % 2 === 0 && col("vec_id") % 10 === 2)
          .select((col("vec_id") + 9000001L).as("vec_id"), col("embedding")))
      val srcSide = withPlants.filter(col("vec_id") % 2 === 0)
      val tgtSide = withPlants.filter(col("vec_id") % 2 === 1)
      val idx = Sim.marginMineFromCentroids(srcSide, col("vec_id"),
        col("embedding"), tgtSide, col("vec_id"), col("embedding"),
        TopicCentroids, nProbe = 2, k = 4)
      val br = Sim.marginMine(srcSide, col("vec_id"), col("embedding"),
        tgtSide, col("vec_id"), col("embedding"), k = 4)
      idx.select(col("sid"), col("tid"), col("cos_micro").as("cm_idx"),
          col("margin_permille").as("m_idx"), col("mutual").as("mut_idx"))
        .join(br.select(col("sid"), col("tid"),
            col("cos_micro").as("cm_br"),
            col("margin_permille").as("m_br"), col("mutual").as("mut_br")),
          Seq("sid", "tid"), "full_outer")
        .withColumn("planted", (col("tid") >= 9000001L).cast("int"))
        .withColumn("found",
          when(col("cm_idx").isNotNull && col("cm_br").isNotNull, "both")
            .when(col("cm_idx").isNotNull, "idx_only")
            .otherwise("brute_only"))
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          concat_ws(":", col("sid"), col("tid")), 37))
        .groupBy("planted", "found")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(coalesce(col("mut_idx"), lit(false)) &&
            coalesce(col("mut_br"), lit(false)), 1L).otherwise(0L))
            .as("n_mutual_both"),
          sum(coalesce(col("cm_idx"), lit(0L))).as("sum_cos_idx"),
          sum(coalesce(col("m_idx"), lit(0L))).as("sum_margin_idx"),
          sum(coalesce(col("cm_br"), lit(0L))).as("sum_cos_brute"),
          sum(coalesce(col("m_br"), lit(0L))).as("sum_margin_brute"),
          expr("bit_xor(__h)").as("pair_checksum"))
        .orderBy("planted", "found")
    })
  )

  /** Planted-lattice topic centroids for q271: centroid t is +1 on its own
    * 16-dim block and −0.25 elsewhere — four well-separated directions
    * whose float literals the oracle regenerates arithmetically. */
  private[queries] val TopicCentroids: Seq[(Long, Array[Float])] =
    (0 until 4).map(t =>
      (t.toLong, Array.tabulate(64)(i => if (i / 16 == t) 1.0f else -0.25f)))

  /** Deterministic synthetic image table: one solid-fill PNG per document,
    * dims 4+(id%8) × 4+(id%5), RGB (id%256, id*7%256, id*11%256). Built in a
    * map stage (one tiny PNG encode per row — no shuffle, no driver work). */
  private def syntheticMedia(s: SparkSession, d: String) = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("source")).as[(Long, String)]
      .map { case (id, src) =>
        val w = 4 + (id % 8).toInt
        val h = 4 + (id % 5).toInt
        Multimodal.MediaRecord(id, "image",
          Multimodal.syntheticPng(w, h,
            (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 11) % 256).toInt),
          src)
      }
  }

  /** Deterministic synthetic video table: one BI_RGB AVI per document,
    * dims (4+id%6) × (3+id%4), 2+(id%3) frames, frame f solid-filled with
    * (id+31f, 5id+17f, 9id+13f) mod 256. Built in a map stage — one small
    * AVI encode per row, no shuffle, no driver work. */
  private def syntheticVideos(s: SparkSession, d: String) = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("source")).as[(Long, String)]
      .map { case (id, src) =>
        val w = 4 + (id % 6).toInt
        val h = 3 + (id % 4).toInt
        val nf = 2 + (id % 3).toInt
        val colors = (0 until nf).map { f =>
          (((id + 31L * f) % 256).toInt,
            ((id * 5 + 17L * f) % 256).toInt,
            ((id * 9 + 13L * f) % 256).toInt)
        }
        Multimodal.MediaRecord(id, "video", Multimodal.syntheticAvi(w, h, colors), src)
      }
  }

  private val cosQ = Sim.cosineSql("embedding", "qe")
  private val bucket8 = Sim.signBucketSql("embedding", 8)
  private val bucket4 = Sim.signBucketSql("embedding", 4)

  /** Shared q268/q274 oracle prefix: the q165 knn replay restricted to
    * same-source edges, neighbor/doc lists, and the recursive walk CTE
    * ([[graft.ops.Assembly.semanticWalkCte]]) ending in `walk(g, pos,
    * doc)`. Callers must open with WITH RECURSIVE. */
  private lazy val SemWalkCtes: String =
    s"""b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
       p AS (SELECT a.vec_id i, c.vec_id j,
           ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
         FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
       sym AS (SELECT i, j, cos FROM p
         UNION ALL SELECT j AS i, i AS j, cos FROM p),
       rk AS (SELECT i, j, cos,
           row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
         FROM sym),
       kne AS (SELECT i, j, rk FROM rk WHERE rk <= 3),
       e AS (SELECT da.source AS g, k.i, k.j, k.rk FROM kne k
         JOIN documents da ON da.doc_id = k.i
         JOIN documents db ON db.doc_id = k.j
         WHERE da.source = db.source),
       __wk_nbr AS (SELECT g, i, list(j ORDER BY rk, j) AS nb
         FROM e GROUP BY 1, 2),
       __wk_docs AS (SELECT source AS g,
           list(doc_id ORDER BY doc_id) AS docs, count(*) AS n
         FROM documents GROUP BY 1),
       ${graft.ops.Assembly.semanticWalkCte}"""

  val oracleSql: Map[String, String] = Map(

    // the probed result is engine-specific; the recall bound is not. TRUE
    // is the contract: Spark's side counts |ivf ∩ brute| >= 0.9k honestly.
    "q57_ann_ivf" -> "SELECT 10 AS k, TRUE AS recall_ok",

    // same contract: the sketch side is engine-specific, its bound is not
    "q141_ann_quantized" -> "SELECT 10 AS k, TRUE AS recall_ok",

    // same contract: PQ codes are engine-specific, the recall bound is not
    "q142_ann_pq" -> "SELECT 10 AS k, TRUE AS recall_ok",

    // same contract for the composed IVF-PQ index
    "q147_ann_ivfpq" -> "SELECT 10 AS k, TRUE AS recall_ok",

    // same contract for the residual (IVFADC) index at half the code bytes
    "q156_ann_ivfpq_residual" -> "SELECT 10 AS k, TRUE AS recall_ok",

    // one bound row per batched PQ query, same contract as q125
    "q150_ann_pq_batch" ->
      """SELECT vec_id AS qid, 10 AS k, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY 1""",

    // planted exact copies must all be deduped away; no original pair
    // reaches τ=0.9 (measured max 0.51/0.60), so every original survives
    "q143_semantic_dedup" ->
      """SELECT CAST(0 AS BIGINT) AS planted_kept,
         count(*) AS originals_kept FROM embeddings""",

    // planted cross-batch copies all drop; genuinely new rows all survive
    "q158_semantic_dedup_incr" ->
      """SELECT CAST(0 AS BIGINT) AS planted_kept,
         count(*) AS new_kept FROM embeddings WHERE vec_id >= 400""",

    // one bound row per batched query, same contract as q57
    "q125_ann_ivf_batch" ->
      """SELECT vec_id AS qid, 10 AS k, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY 1""",

    // top-k selection on RAW cosine (bit-identical cross-engine), final
    // presentation order on the rounded value — mirrors the Spark plan
    "q48_ann_brute" ->
      s"""WITH qv AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
         top AS (SELECT vec_id, $cosQ AS cos FROM embeddings, qv
                 WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10)
         SELECT vec_id, round(cos, 6) AS cos FROM top
         ORDER BY round(cos, 6) DESC, vec_id""",

    "q90_semantic_fetch" ->
      s"""WITH qv AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
         top AS (SELECT vec_id, $cosQ AS cos FROM embeddings, qv
                 WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10)
         SELECT doc_id, lang, source, round(cos, 6) AS cos
         FROM top JOIN documents ON doc_id = vec_id
         ORDER BY round(cos, 6) DESC, doc_id""",

    "q49_ann_lsh" ->
      s"""WITH qv AS (SELECT embedding qe, $bucket4 qbucket
           FROM embeddings WHERE vec_id = 0),
         top AS (SELECT vec_id, $cosQ AS cos FROM embeddings, qv
                 WHERE vec_id <> 0 AND $bucket4 = qbucket
                 ORDER BY cos DESC, vec_id LIMIT 10)
         SELECT vec_id, round(cos, 6) AS cos FROM top
         ORDER BY round(cos, 6) DESC, vec_id""",

    "q50_multimodal_binary" ->
      """SELECT source, count(*) AS n,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
         count(DISTINCT md5(text)) AS n_distinct_payload,
         CAST(min(ord(substr(text, 1, 1))) AS INT) AS min_first_byte
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q65_embed_dedup" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket4 bucket FROM embeddings),
         losers AS (SELECT DISTINCT c.vec_id AS l
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           WHERE ${Sim.cosineSql("a.embedding", "c.embedding")} >= 0.25)
         SELECT label, count(*) AS n_kept FROM embeddings
         WHERE vec_id NOT IN (SELECT l FROM losers)
         GROUP BY 1 ORDER BY 1""",

    // the oracle recomputes the decoded pixel sums arithmetically: a solid
    // w×h fill of channel value c decodes to a channel sum of exactly w*h*c
    "q94_image_stats" ->
      """SELECT doc_id % 4 AS grp, count(*) AS n,
         CAST(sum((4 + doc_id % 8) * (4 + doc_id % 5)) AS BIGINT) AS sum_pixels,
         CAST(sum((4 + doc_id % 8) * (4 + doc_id % 5) * (doc_id % 256)) AS BIGINT) AS sum_red,
         CAST(sum((4 + doc_id % 8) * (4 + doc_id % 5) * ((doc_id * 7) % 256)) AS BIGINT) AS sum_green,
         CAST(max(4 + doc_id % 8) AS INT) AS max_w,
         CAST(min(4 + doc_id % 5) AS INT) AS min_h
         FROM documents GROUP BY 1 ORDER BY 1""",

    // after resize every image is exactly 6×3 = 18 px of the source color
    "q95_image_resize" ->
      """SELECT doc_id % 4 AS grp, count(*) AS n,
         CAST(sum(18) AS BIGINT) AS sum_pixels,
         CAST(sum(18 * (doc_id % 256)) AS BIGINT) AS sum_red,
         CAST(6 AS INT) AS max_w,
         CAST(3 AS INT) AS max_h
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q135_image_dhash" ->
      """SELECT CASE WHEN doc_id % 5 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS dhash,
         count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q136_video_dhash" ->
      """SELECT CASE WHEN doc_id % 4 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS dhash,
         count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q137_audio_envelope_hash" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS ehash,
         count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM documents GROUP BY 1 ORDER BY 1""",

    // the WAV fixture's samples are pure doc_id arithmetic; max n is
    // 500 + 299 = 799, so a fixed 0..798 series joined on i < n replaces
    // the correlated generate_series DuckDB's binder rejects
    "q98_audio_stats" ->
      """WITH per AS (SELECT doc_id, 500 + doc_id % 300 AS n, doc_id % 997 AS seed
           FROM documents),
         idx AS (SELECT unnest(generate_series(0, 798)) AS i),
         st AS (
           SELECT p.doc_id, max(p.n) AS n_samples,
                  sum(abs(((p.seed + 7*x.i) % 2003) - 1001)) AS s_abs,
                  max(abs(((p.seed + 7*x.i) % 2003) - 1001)) AS m_abs
           FROM per p JOIN idx x ON x.i < p.n
           GROUP BY p.doc_id)
         SELECT doc_id % 4 AS grp, count(*) AS n,
           CAST(sum(n_samples) AS BIGINT) AS sum_samples,
           CAST(sum(s_abs) AS BIGINT) AS sum_abs,
           CAST(max(m_abs) AS INT) AS max_abs
         FROM st GROUP BY 1 ORDER BY 1""",

    // the AVI fixture's frame colors are pure doc_id arithmetic; max nf is
    // 2 + 2 = 4, so a fixed 0..3 frame-index series joined on f < nf
    // replaces the correlated generate_series (same pattern as q98)
    "q99_video_stats" ->
      """WITH per AS (SELECT doc_id, 4 + doc_id % 6 AS w, 3 + doc_id % 4 AS h,
             2 + doc_id % 3 AS nf FROM documents),
         idx AS (SELECT unnest(generate_series(0, 3)) AS f),
         st AS (
           SELECT p.doc_id, max(p.w) AS w, max(p.h) AS h, max(p.nf) AS nf,
                  sum(p.w * p.h * ((p.doc_id + 31*x.f) % 256)) AS s_r,
                  sum(p.w * p.h * ((p.doc_id*5 + 17*x.f) % 256)) AS s_g
           FROM per p JOIN idx x ON x.f < p.nf
           GROUP BY p.doc_id)
         SELECT doc_id % 4 AS grp, count(*) AS n,
           CAST(sum(nf) AS BIGINT) AS sum_frames,
           CAST(sum(nf * w * h) AS BIGINT) AS sum_pixels,
           CAST(sum(s_r) AS BIGINT) AS sum_red,
           CAST(sum(s_g) AS BIGINT) AS sum_green,
           CAST(max(w) AS INT) AS max_w,
           CAST(min(h) AS INT) AS min_h
         FROM st GROUP BY 1 ORDER BY 1""",

    "q51_embed_block_pairs" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         top AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           ORDER BY cos DESC, i, j LIMIT 10)
         SELECT i, j, round(cos, 6) AS cos FROM top
         ORDER BY round(cos, 6) DESC, i, j""",

    "q165_knn_graph" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym)
         SELECT i, j, round(cos, 6) AS cos, rk
         FROM rk WHERE rk <= 3 AND i < 10 ORDER BY i, rk""",

    // q202's PageRank chain + q182's recursive CC chain over ONE shared
    // edge set; per-cluster argmax replayed as a (pr DESC, node) rank
    "q215_central_select" ->
      s"""WITH RECURSIVE
         b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym),
         e AS (SELECT i, j FROM rk WHERE rk <= 3),
         deg AS (SELECT i, count(*) AS dg FROM e GROUP BY 1),
         nodes AS (SELECT DISTINCT i AS v FROM e),
         c1 AS (SELECT e.j AS v, sum(p0.pr // d.dg) AS s FROM e
           JOIN (SELECT v, 1000000::BIGINT AS pr FROM nodes) p0 ON e.i = p0.v
           JOIN deg d ON e.i = d.i GROUP BY 1),
         it1 AS (SELECT n.v,
             CAST(150000 + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS pr
           FROM nodes n LEFT JOIN c1 ON n.v = c1.v),
         c2 AS (SELECT e.j AS v, sum(it1.pr // d.dg) AS s FROM e
           JOIN it1 ON e.i = it1.v JOIN deg d ON e.i = d.i GROUP BY 1),
         it2 AS (SELECT n.v,
             CAST(150000 + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS pr
           FROM nodes n LEFT JOIN c2 ON n.v = c2.v),
         ed AS (SELECT least(i, j) AS a, greatest(i, j) AS b
           FROM rk WHERE rk <= 3 AND cos >= 0.3 GROUP BY 1, 2),
         edges AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a),
         jn AS (SELECT cc.cluster, cc.node, it2.pr,
             row_number() OVER (PARTITION BY cc.cluster
               ORDER BY it2.pr DESC, cc.node) AS prk
           FROM cc JOIN it2 ON cc.node = it2.v)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(CASE WHEN prk = 1 THEN node END) AS BIGINT) AS kept,
           CAST(min(CASE WHEN prk = 1 THEN pr END) AS BIGINT) AS kept_pr
         FROM jn GROUP BY 1 ORDER BY 1""",

    "q207_bitext_margin" ->
      s"""WITH n0 AS (SELECT e.vec_id, e.embedding, d.lang, $bucket4 bucket
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
           WHERE d.lang IN ('en', 'de')),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM n0 a JOIN n0 c ON a.bucket = c.bucket
             AND a.vec_id < c.vec_id AND a.lang <> c.lang),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym),
         av AS (SELECT i, sum(cos) / count(*) AS avgc FROM rk
           WHERE rk <= 3 GROUP BY 1),
         m AS (SELECT p.i, p.j, p.cos,
             round(p.cos / ((ai.avgc + aj.avgc) / 2), 6) AS margin
           FROM p JOIN av ai ON p.i = ai.i JOIN av aj ON p.j = aj.i)
         SELECT i, j, round(cos, 6) AS cos, margin
         FROM m ORDER BY margin DESC, i, j LIMIT 15""",

    "q202_graph_pagerank" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym),
         e AS (SELECT i, j FROM rk WHERE rk <= 3),
         deg AS (SELECT i, count(*) AS dg FROM e GROUP BY 1),
         nodes AS (SELECT DISTINCT i AS v FROM e),
         c1 AS (SELECT e.j AS v, sum(p0.pr // d.dg) AS s FROM e
           JOIN (SELECT v, 1000000::BIGINT AS pr FROM nodes) p0 ON e.i = p0.v
           JOIN deg d ON e.i = d.i GROUP BY 1),
         it1 AS (SELECT n.v,
             CAST(150000 + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS pr
           FROM nodes n LEFT JOIN c1 ON n.v = c1.v),
         c2 AS (SELECT e.j AS v, sum(it1.pr // d.dg) AS s FROM e
           JOIN it1 ON e.i = it1.v JOIN deg d ON e.i = d.i GROUP BY 1),
         it2 AS (SELECT n.v,
             CAST(150000 + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS pr
           FROM nodes n LEFT JOIN c2 ON n.v = c2.v)
         SELECT v AS vec_id, pr FROM it2 ORDER BY vec_id""",

    "q197_label_propagation" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket, label,
             vec_id % 5 = 0 AS seed FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         e AS (SELECT s.i, s.j, s.cos, d.label FROM sym s
           JOIN b d ON s.j = d.vec_id AND d.seed
           JOIN b o ON s.i = o.vec_id AND NOT o.seed),
         rk AS (SELECT i, j, label, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM e),
         v AS (SELECT i, label, count(*) AS votes FROM rk
           WHERE rk <= 5 GROUP BY 1, 2),
         w AS (SELECT i, label, votes,
             CAST(sum(votes) OVER (PARTITION BY i) AS BIGINT) AS deg,
             row_number() OVER (PARTITION BY i ORDER BY votes DESC, label)
               AS vrk FROM v)
         SELECT i AS vec_id, label AS pred_label, votes, deg
         FROM w WHERE vrk = 1 ORDER BY vec_id""",

    "q230_mutual_nn" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym),
         e AS (SELECT i, j, cos, rk FROM rk WHERE rk <= 3)
         SELECT a.i, a.j, round(a.cos, 6) AS cos,
           a.rk AS rk_ij, bb.rk AS rk_ji
         FROM e a JOIN e bb ON a.i = bb.j AND a.j = bb.i
         WHERE a.i < a.j ORDER BY a.i, a.j""",

    // the from-scratch graph over ALL vectors — incremental must equal it
    "q228_knn_graph_append" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym)
         SELECT i, j, round(cos, 6) AS cos, rk
         FROM rk WHERE rk <= 3 ORDER BY i, rk""",

    "q224_label_prop_multiprobe" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket, label,
             vec_id % 5 = 0 AS seed FROM embeddings),
         e AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos,
             c.label
           FROM b a JOIN b c
           ON (a.bucket = c.bucket
             OR bit_count(xor(a.bucket, c.bucket)) = 1)
           AND NOT a.seed AND c.seed),
         rk AS (SELECT i, j, label, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM e),
         v AS (SELECT i, label, count(*) AS votes FROM rk
           WHERE rk <= 5 GROUP BY 1, 2),
         w AS (SELECT i, label, votes,
             CAST(sum(votes) OVER (PARTITION BY i) AS BIGINT) AS deg,
             row_number() OVER (PARTITION BY i ORDER BY votes DESC, label)
               AS vrk FROM v)
         SELECT i AS vec_id, label AS pred_label, votes, deg
         FROM w WHERE vrk = 1 ORDER BY vec_id""",

    "q198_knn_confusion" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucket8 bucket, label
           FROM embeddings),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         e AS (SELECT s.i, s.j, s.cos, d.label FROM sym s
           JOIN b d ON s.j = d.vec_id),
         rk AS (SELECT i, j, label, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM e),
         v AS (SELECT i, label, count(*) AS votes FROM rk
           WHERE rk <= 5 GROUP BY 1, 2),
         w AS (SELECT i, label, votes,
             row_number() OVER (PARTITION BY i ORDER BY votes DESC, label)
               AS vrk FROM v),
         pred AS (SELECT i, label AS pred_label FROM w WHERE vrk = 1)
         SELECT t.label AS true_label, pr.pred_label, count(*) AS n
         FROM pred pr JOIN b t ON pr.i = t.vec_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q164_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding, source
           FROM embeddings JOIN documents ON doc_id = vec_id),
         a AS (SELECT vec_id AS anchor, embedding AS ae, source AS asrc
           FROM e WHERE vec_id IN (1, 2, 3)),
         sc AS (SELECT a.anchor, e.vec_id,
             ${Sim.cosineSql("e.embedding", "a.ae")} AS cos
           FROM e, a WHERE e.vec_id <> 0 AND e.source <> a.asrc),
         rk AS (SELECT anchor, vec_id, cos,
             row_number() OVER (PARTITION BY anchor
               ORDER BY cos DESC, vec_id) AS rk
           FROM sc)
         SELECT anchor, vec_id, round(cos, 6) AS cos, rk
         FROM rk WHERE rk <= 3 ORDER BY anchor, rk""",

    // full-coverage probing (nProbe = nCentroids) makes index-vs-brute
    // agreement exact BY CONSTRUCTION at every SF — one pinned-TRUE row
    // per anchor is the honest contract (partial-probe recall is q125/
    // q156's bound-checked territory)
    "q170_hard_negatives_ivf" ->
      """SELECT CAST(1 AS BIGINT) AS anchor, 3 AS k, TRUE AS agree_ok
         UNION ALL SELECT CAST(2 AS BIGINT), 3, TRUE
         UNION ALL SELECT CAST(3 AS BIGINT), 3, TRUE ORDER BY anchor""",

    // same bucket/cosine/rank replay as q165, then the edge set (kept when
    // EITHER direction ranks ≤ k) canonicalized and closed transitively
    "q182_semantic_clusters" ->
      s"""WITH RECURSIVE
         pe AS (SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id + 100000, embedding
             FROM embeddings WHERE vec_id < 4
           UNION ALL SELECT vec_id + 200000, embedding
             FROM embeddings WHERE vec_id < 4),
         b AS (SELECT vec_id, embedding, $bucket8 bucket FROM pe),
         p AS (SELECT a.vec_id i, c.vec_id j,
             ${Sim.cosineSql("a.embedding", "c.embedding")} AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
         sym AS (SELECT i, j, cos FROM p
           UNION ALL SELECT j AS i, i AS j, cos FROM p),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM sym),
         ed AS (SELECT least(i, j) AS a, greatest(i, j) AS b
           FROM rk WHERE rk <= 3 AND cos >= 0.95 GROUP BY 1, 2),
         edges AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a)
         SELECT cluster, count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS sum_nodes
         FROM cc GROUP BY 1 ORDER BY 1""",

    // identical norm/center/truncate arithmetic via the documented twins;
    // the corpus mean is an avg of doubles whose cross-engine summation
    // noise (~1e-13) is far under the 6-decimal grid
    "q190_embed_preprocess" -> {
      val unitNorm =
        s"sqrt(list_sum(list_transform(${Sim.l2NormalizeSql("embedding")}, x -> x * x)))"
      s"""WITH m1 AS (SELECT avg(embedding[1]::DOUBLE) AS m FROM embeddings)
         SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
             x -> x::DOUBLE * x::DOUBLE))), 6) AS n6,
           round($unitNorm, 6) AS u6,
           round(embedding[1]::DOUBLE - (SELECT m FROM m1), 6) AS c1,
           round((${Sim.truncateDimsSql("embedding", 8)})[1], 6) AS t1,
           round(list_sum(${Sim.truncateDimsSql("embedding", 8)}), 6) AS tsum
         FROM embeddings WHERE vec_id < 12 ORDER BY vec_id"""
    },

    // identical plant + cosine replay; the ≥0.95 decision has ≥0.34 of
    // margin on every row (copies ≈1, organic ≤0.61), so a ulp of
    // cross-engine dot-product noise cannot flip membership
    "q188_semantic_decontam" ->
      s"""WITH b0 AS (SELECT embedding AS b0 FROM embeddings WHERE vec_id = 0),
         corpus AS (SELECT vec_id, label,
             CASE WHEN vec_id % 37 = 0 THEN (SELECT b0 FROM b0)
               ELSE embedding END AS v
           FROM embeddings WHERE vec_id % 101 <> 0),
         bench AS (SELECT embedding AS bv FROM embeddings
           WHERE vec_id % 101 = 0),
         flag AS (SELECT DISTINCT c.vec_id FROM corpus c JOIN bench b
           ON ${Sim.cosineSql("c.v", "b.bv")} >= 0.95)
         SELECT label, count(*) AS n_kept,
           CAST(sum(vec_id) AS BIGINT) AS sum_ids
         FROM corpus WHERE vec_id NOT IN (SELECT vec_id FROM flag)
         GROUP BY 1 ORDER BY 1""",

    "q174_ann_join" ->
      s"""WITH l AS (SELECT vec_id AS i, embedding, $bucket4 AS bucket
           FROM embeddings WHERE vec_id < 30),
         r AS (SELECT vec_id AS j, embedding, $bucket4 AS bucket
           FROM embeddings WHERE vec_id >= 30),
         p AS (SELECT l.i, r.j,
             ${Sim.cosineSql("l.embedding", "r.embedding")} AS cos
           FROM l JOIN r ON l.bucket = r.bucket),
         rk AS (SELECT i, j, cos,
             row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rk
           FROM p)
         SELECT i, j, round(cos, 6) AS cos, rk
         FROM rk WHERE rk <= 3 AND i < 10 ORDER BY i, rk""",

    // identical plant; exact dedup replays as min-id GROUP BY the vector
    // LIST, the reference anti join as NOT EXISTS over the same bucket
    // equality + cosine threshold (double-product summation order shared
    // with the Spark side's native expression)
    "q264_embed_admission" ->
      s"""WITH ref AS (SELECT embedding FROM embeddings WHERE vec_id % 7 = 0),
         organic AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 7 <> 0),
         dupp AS (SELECT vec_id + 1000000 AS vec_id, embedding
           FROM organic WHERE vec_id % 11 = 0),
         nearp AS (SELECT vec_id + 2000000 AS vec_id,
             list_transform(embedding,
               x -> CAST(x::DOUBLE * 1.0001 AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id % 7 = 0 AND vec_id % 3 = 0),
         arr AS (SELECT * FROM organic UNION ALL SELECT * FROM dupp
           UNION ALL SELECT * FROM nearp),
         surv AS (SELECT min(vec_id) AS vec_id, embedding
           FROM arr GROUP BY embedding),
         survb AS (SELECT vec_id, embedding,
             ${Sim.signBucketSql("embedding", 8)} AS sb FROM surv),
         refb AS (SELECT ${Sim.signBucketSql("embedding", 8)} AS rb,
             embedding AS rvec FROM ref),
         hits AS (SELECT DISTINCT s.vec_id FROM survb s
           JOIN refb r ON s.sb = r.rb
           WHERE ${Sim.cosineSql("s.embedding", "r.rvec")} >= 0.95),
         adm AS (SELECT vec_id FROM survb
           WHERE vec_id NOT IN (SELECT vec_id FROM hits))
         SELECT CASE WHEN a.vec_id >= 2000000 THEN 'near_plant'
             WHEN a.vec_id >= 1000000 THEN 'dup_plant'
             ELSE 'organic' END AS category,
           count(*) AS n_in,
           CAST(sum(CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_admitted,
           CAST(coalesce(sum(CASE WHEN m.vec_id IS NOT NULL
             THEN a.vec_id END), 0) AS BIGINT) AS sum_admitted_ids
         FROM arr a LEFT JOIN adm m ON a.vec_id = m.vec_id
         GROUP BY 1 ORDER BY 1""",

    // the walk replay carries the visited set as a LIST in a recursive CTE
    // (the q97 FFD technique); the edge list is the q165 bucket/cosine/rank
    // replay restricted to same-source pairs, the packer the q87 window
    "q268_semantic_pack" ->
      s"""WITH RECURSIVE
         $SemWalkCtes,
         ch AS (${graft.ops.Chunking.chunkSql("doc_id", "text", 32, 32)}),
         jc AS (SELECT w.g, w.pos, ch.doc, ch.chunk_idx, ch.n_tok
           FROM ch JOIN walk w ON ch.doc = w.doc),
         pk AS (SELECT g, pos, doc, n_tok,
             sum(n_tok) OVER (PARTITION BY g ORDER BY pos, chunk_idx
               ROWS UNBOUNDED PRECEDING) AS cum FROM jc)
         SELECT g, pos, doc, count(*) AS n_chunks,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(min((cum - n_tok) // 128) AS BIGINT) AS bin_first,
           CAST(max((cum - n_tok) // 128) AS BIGINT) AS bin_last
         FROM pk GROUP BY 1, 2, 3 ORDER BY g, pos""",

    // the same walk + window replay as q268, plus the intra-window offset
    // ((cum − n_tok) mod ctx) per chunk
    "q275_semantic_pack_offsets" ->
      s"""WITH RECURSIVE
         $SemWalkCtes,
         ch AS (${graft.ops.Chunking.chunkSql("doc_id", "text", 32, 32)}),
         jc AS (SELECT w.g, w.pos, ch.doc, ch.chunk_idx, ch.n_tok
           FROM ch JOIN walk w ON ch.doc = w.doc),
         pk AS (SELECT g, pos, doc, chunk_idx, n_tok,
             sum(n_tok) OVER (PARTITION BY g ORDER BY pos, chunk_idx
               ROWS UNBOUNDED PRECEDING) AS cum FROM jc)
         SELECT g, pos, doc, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(n_tok AS INT) AS n_tok,
           CAST((cum - n_tok) // 128 AS BIGINT) AS bin,
           CAST((cum - n_tok) % 128 AS INT) AS "offset"
         FROM pk WHERE doc < 60 ORDER BY g, pos, chunk_idx""",

    // BRUTE-FORCE twin — no bucket anywhere: every all-pairs near-dup must
    // be found by the production-width (bits=12) bucketed op or the census
    // and checksum split
    "q269_embed_dedup_prod" ->
      s"""WITH pl AS (SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding,
               x -> CAST(x::DOUBLE * 1.0001 AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id % 9 = 0),
         corpus AS (SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id, embedding FROM pl),
         losers AS (SELECT DISTINCT c.vec_id AS l
           FROM corpus a JOIN corpus c ON a.vec_id < c.vec_id
           WHERE ${Sim.cosineSql("a.embedding", "c.embedding")} >= 0.9),
         kept AS (SELECT vec_id FROM corpus
           WHERE vec_id NOT IN (SELECT l FROM losers))
         SELECT CASE WHEN c.vec_id >= 1000000 THEN 'plant'
             ELSE 'organic' END AS category,
           count(*) AS n_in,
           CAST(sum(CASE WHEN k.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(coalesce(bit_xor(CASE WHEN k.vec_id IS NOT NULL THEN
             ${graft.functions.PortableHash.md5LongSql("c.vec_id::VARCHAR", 99)}
             END), 0) AS BIGINT) AS kept_checksum
         FROM corpus c LEFT JOIN kept k ON c.vec_id = k.vec_id
         GROUP BY 1 ORDER BY 1""",

    // the lattice regenerates arithmetically (centroid t: +1 on its own
    // 16-dim block, -0.25 elsewhere); argmax replayed as a rank window
    // with the identical (cos DESC, cid) total order
    "q271_topic_mix" ->
      s"""WITH cents AS (SELECT t AS cid,
             list_transform(generate_series(1, 64),
               i -> CAST(CASE WHEN (i - 1) // 16 = t THEN 1.0 ELSE -0.25 END
                 AS FLOAT)) AS cvec
           FROM (SELECT unnest(generate_series(0, 3)) AS t)),
         a AS (SELECT e.vec_id AS id, c.cid,
             ${Sim.cosineSql("e.embedding", "c.cvec")} AS cos
           FROM embeddings e, cents c),
         r AS (SELECT id, cid, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, cid) AS rk FROM a),
         asg AS (SELECT id, cid AS topic FROM r WHERE rk = 1),
         ws AS (SELECT d.source, g.topic FROM asg g
           JOIN documents d ON d.doc_id = g.id),
         per AS (SELECT source, topic, count(*) AS n_docs
           FROM ws GROUP BY 1, 2),
         tot AS (SELECT source, count(*) AS tt FROM ws GROUP BY 1)
         SELECT p.source, p.topic, p.n_docs,
           ${graft.ops.ExactRound.halfUpDivSql("p.n_docs * 1000", "t.tt")}
             AS share_permille
         FROM per p JOIN tot t ON p.source = t.source
         ORDER BY p.source, p.topic""",

    // identical lattice regeneration, identical argmax window per
    // snapshot (snapshot B substitutes centroid 2's cvec for src7 rows),
    // shares via the identical halfUpDiv integer grid, diffed FULL OUTER
    "q278_topic_drift" ->
      s"""WITH cents AS (SELECT t AS cid,
             list_transform(generate_series(1, 64),
               i -> CAST(CASE WHEN (i - 1) // 16 = t THEN 1.0 ELSE -0.25 END
                 AS FLOAT)) AS cvec
           FROM (SELECT unnest(generate_series(0, 3)) AS t)),
         ds AS (SELECT doc_id AS id, source FROM documents),
         a1 AS (SELECT e.vec_id AS id, c.cid,
             ${Sim.cosineSql("e.embedding", "c.cvec")} AS cos
           FROM embeddings e, cents c),
         r1 AS (SELECT id, cid, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, cid) AS rk FROM a1),
         g1 AS (SELECT d.source AS g, r.cid AS topic
           FROM r1 r JOIN ds d ON d.id = r.id WHERE r.rk = 1),
         eb AS (SELECT e.vec_id,
             CASE WHEN d.source = 'src7'
               THEN (SELECT cvec FROM cents WHERE cid = 2)
               ELSE e.embedding END AS embedding
           FROM embeddings e JOIN ds d ON d.id = e.vec_id),
         a2 AS (SELECT e.vec_id AS id, c.cid,
             ${Sim.cosineSql("e.embedding", "c.cvec")} AS cos
           FROM eb e, cents c),
         r2 AS (SELECT id, cid, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, cid) AS rk FROM a2),
         g2 AS (SELECT d.source AS g, r.cid AS topic
           FROM r2 r JOIN ds d ON d.id = r.id WHERE r.rk = 1),
         p1 AS (SELECT g, topic, count(*) AS n FROM g1 GROUP BY 1, 2),
         t1 AS (SELECT g, count(*) AS tt FROM g1 GROUP BY 1),
         s1 AS (SELECT p.g, p.topic, p.n,
             ${graft.ops.ExactRound.halfUpDivSql("p.n * 1000", "t.tt")} AS sh
           FROM p1 p JOIN t1 t ON p.g = t.g),
         p2 AS (SELECT g, topic, count(*) AS n FROM g2 GROUP BY 1, 2),
         t2 AS (SELECT g, count(*) AS tt FROM g2 GROUP BY 1),
         s2 AS (SELECT p.g, p.topic, p.n,
             ${graft.ops.ExactRound.halfUpDivSql("p.n * 1000", "t.tt")} AS sh
           FROM p2 p JOIN t2 t ON p.g = t.g)
         SELECT coalesce(s1.g, s2.g) AS source,
           CAST(coalesce(s1.topic, s2.topic) AS BIGINT) AS topic,
           CAST(coalesce(s1.n, 0) AS BIGINT) AS n_a,
           CAST(coalesce(s2.n, 0) AS BIGINT) AS n_b,
           CAST(coalesce(s1.sh, 0) AS BIGINT) AS share_a_permille,
           CAST(coalesce(s2.sh, 0) AS BIGINT) AS share_b_permille,
           CAST(coalesce(s2.sh, 0) - coalesce(s1.sh, 0) AS BIGINT)
             AS delta_permille
         FROM s1 FULL OUTER JOIN s2
           ON s1.g = s2.g AND s1.topic = s2.topic
         ORDER BY source, topic""",

    // identical centroid lattice + argmax tie rule, identical plant
    // (src7, vec_id >= 300 → centroid 2), windows as exact epoch-ms
    // integer division, the 4-topic grid cross-joined so zero rows
    // appear, shares/deltas on the identical half-up permille grid
    "q284_drift_stream_monitor" -> {
      val hud = (n: String, t: String) =>
        graft.ops.ExactRound.halfUpDivSql(n, t)
      s"""WITH cents AS (SELECT t AS cid,
             list_transform(generate_series(1, 64),
               i -> CAST(CASE WHEN (i - 1) // 16 = t THEN 1.0 ELSE -0.25 END
                 AS FLOAT)) AS cvec
           FROM (SELECT unnest(generate_series(0, 3)) AS t)),
         ds AS (SELECT doc_id AS id, source FROM documents),
         a0 AS (SELECT e.vec_id AS id, c.cid,
             ${Sim.cosineSql("e.embedding", "c.cvec")} AS cos
           FROM embeddings e, cents c),
         r0 AS (SELECT id, cid, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, cid) AS rk FROM a0),
         g0 AS (SELECT d.source AS g, r.cid AS topic
           FROM r0 r JOIN ds d ON d.id = r.id WHERE r.rk = 1),
         p0 AS (SELECT g, topic, count(*) AS n FROM g0 GROUP BY 1, 2),
         t0 AS (SELECT g, count(*) AS tt FROM g0 GROUP BY 1),
         ref AS (SELECT p.g, p.topic, ${hud("p.n * 1000", "t.tt")} AS refp
           FROM p0 p JOIN t0 t ON p.g = t.g),
         eb AS (SELECT e.vec_id AS id, d.source,
             CASE WHEN d.source = 'src7' AND e.vec_id >= 300
               THEN (SELECT cvec FROM cents WHERE cid = 2)
               ELSE e.embedding END AS embedding
           FROM embeddings e JOIN ds d ON d.id = e.vec_id),
         a1 AS (SELECT eb.id, eb.source, c.cid,
             ${Sim.cosineSql("eb.embedding", "c.cvec")} AS cos
           FROM eb, cents c),
         r1 AS (SELECT id, source, cid, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, cid) AS rk FROM a1),
         arr AS (SELECT source AS g, cid AS topic,
             ((1767225600000 + id * 1000) // 300000) * 300000 AS win_ms
           FROM r1 WHERE rk = 1),
         tot AS (SELECT win_ms, g, count(*) AS tt FROM arr GROUP BY 1, 2),
         cnt AS (SELECT win_ms, g, topic, count(*) AS n
           FROM arr GROUP BY 1, 2, 3),
         tp AS (SELECT unnest(generate_series(0, 3)) AS topic),
         grid AS (SELECT t.win_ms, t.g, tp.topic, t.tt,
             coalesce(c.n, 0) AS n
           FROM tot t CROSS JOIN tp
           LEFT JOIN cnt c ON c.win_ms = t.win_ms AND c.g = t.g
             AND c.topic = tp.topic)
         SELECT CAST(grid.win_ms AS BIGINT) AS win_ms, grid.g,
           CAST(grid.topic AS BIGINT) AS topic, CAST(grid.n AS BIGINT) AS n,
           CAST(${hud("grid.n * 1000", "grid.tt")} AS BIGINT)
             AS share_permille,
           CAST(coalesce(ref.refp, 0) AS BIGINT) AS ref_permille,
           CAST((${hud("grid.n * 1000", "grid.tt")})
             - coalesce(ref.refp, 0) AS BIGINT) AS delta_permille
         FROM grid LEFT JOIN ref ON ref.g = grid.g AND ref.topic = grid.topic
         ORDER BY win_ms, grid.g, grid.topic"""
    },

    // both packings replayed (walk order via the shared recursive CTE, id
    // order as a plain window), every within-bin pair's cosine summed on
    // the micro grid — identical round-half-away semantics on identical
    // doubles
    "q274_pack_coherence" ->
      s"""WITH RECURSIVE
         $SemWalkCtes,
         nt AS (SELECT doc_id, source,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         bs AS (SELECT w.g, w.doc, nt.ntok,
             sum(nt.ntok) OVER (PARTITION BY w.g ORDER BY w.pos
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM walk w JOIN nt ON nt.doc_id = w.doc),
         bsem AS (SELECT g, doc, (cum - ntok) // 256 AS bin FROM bs),
         bi AS (SELECT source AS g, doc_id AS doc, ntok,
             sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum FROM nt),
         bid AS (SELECT g, doc, (cum - ntok) // 256 AS bin FROM bi),
         psem AS (SELECT a.g AS source, count(*) AS n_pairs_sem,
             CAST(sum(CAST(round(
               ${Sim.cosineSql("ea.embedding", "eb.embedding")} * 1e6)
               AS BIGINT)) AS BIGINT) AS cos_micro_sem
           FROM bsem a JOIN bsem b
             ON a.g = b.g AND a.bin = b.bin AND a.doc < b.doc
           JOIN embeddings ea ON ea.vec_id = a.doc
           JOIN embeddings eb ON eb.vec_id = b.doc
           GROUP BY 1),
         pid AS (SELECT a.g AS source, count(*) AS n_pairs_id,
             CAST(sum(CAST(round(
               ${Sim.cosineSql("ea.embedding", "eb.embedding")} * 1e6)
               AS BIGINT)) AS BIGINT) AS cos_micro_id
           FROM bid a JOIN bid b
             ON a.g = b.g AND a.bin = b.bin AND a.doc < b.doc
           JOIN embeddings ea ON ea.vec_id = a.doc
           JOIN embeddings eb ON eb.vec_id = b.doc
           GROUP BY 1)
         SELECT source, n_pairs_sem, cos_micro_sem, n_pairs_id, cos_micro_id
         FROM psem JOIN pid USING (source)
         ORDER BY source""",

    // identical plant arithmetic, identical per-pair 1e-6 quantization,
    // identical two-sided top-4 windows and the signed integer-permille
    // margin — the threshold is replayed on the shared grid
    "q289_margin_mining" -> {
      val hSql = graft.functions.PortableHash.md5LongSql(
        "(sid::VARCHAR || ':' || tid::VARCHAR)", 31)
      def hud(num: String, den: String) =
        graft.ops.ExactRound.halfUpDivSql(num, den)
      val num = "(cm * 2000 * ks * kt)"
      val den = "(ss * kt + st * ks)"
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < 1000),
         pl AS (SELECT vec_id, embedding FROM base
           UNION ALL SELECT vec_id + 9000001, embedding FROM base
           WHERE vec_id % 2 = 0 AND vec_id % 10 = 2),
         s AS (SELECT vec_id AS sid, embedding AS sv FROM pl
           WHERE vec_id % 2 = 0),
         t AS (SELECT vec_id AS tid, embedding AS tv FROM pl
           WHERE vec_id % 2 = 1),
         p AS (SELECT sid, tid,
             CAST(round((${Sim.cosineSql("sv", "tv")}) * 1e6) AS BIGINT)
               AS cm
           FROM s, t),
         rs AS (SELECT *, row_number() OVER (PARTITION BY sid
             ORDER BY cm DESC, tid) AS r FROM p),
         rt AS (SELECT *, row_number() OVER (PARTITION BY tid
             ORDER BY cm DESC, sid) AS r FROM p),
         sms AS (SELECT sid, CAST(sum(cm) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS ks FROM rs WHERE r <= 4
           GROUP BY 1),
         smt AS (SELECT tid, CAST(sum(cm) AS BIGINT) AS st,
             CAST(count(*) AS BIGINT) AS kt FROM rt WHERE r <= 4
           GROUP BY 1),
         bs AS (SELECT sid, tid, cm FROM rs WHERE r = 1),
         bt AS (SELECT tid, sid AS bsid FROM rt WHERE r = 1),
         m AS (SELECT bs.sid, bs.tid, bs.cm,
             CASE WHEN $den <= 0 THEN NULL
               WHEN $num >= 0 THEN ${hud(num, den)}
               ELSE -${hud(s"-$num", den)} END AS mpm,
             coalesce(bt.bsid = bs.sid, false) AS mutual
           FROM bs JOIN sms USING (sid) JOIN smt USING (tid)
           LEFT JOIN bt USING (tid)),
         f AS (SELECT *, CASE WHEN tid >= 9000001 THEN 1 ELSE 0 END
               AS planted,
             CASE WHEN mpm >= 1300 THEN 1 ELSE 0 END AS high,
             ($hSql) AS hh
           FROM m WHERE mpm >= 0)
         SELECT planted, high, mutual, count(*) AS n_pairs,
           CAST(sum(cm) AS BIGINT) AS sum_cos_micro,
           CAST(sum(mpm) AS BIGINT) AS sum_margin,
           min(mpm) AS min_margin, max(mpm) AS max_margin,
           CAST(bit_xor(hh) AS BIGINT) AS pair_checksum
         FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    },

    // identical plant arithmetic (×2 scaling is exact in both engines,
    // sign buckets unchanged), identical bucket-equi + cosine ≥ 0.95
    // kill rule, three waves unrolled with admitted-only index evolution
    "q290_embed_evolving" -> {
      val hid = graft.functions.PortableHash.md5LongSql(
        "vec_id::VARCHAR", 83)
      val cosAB = Sim.cosineSql("a.v", "c.v")
      val waveCtes = (0 to 2).map { w =>
        val idxDef =
          if (w == 0) "SELECT vec_id AS id FROM seedrel"
          else s"SELECT id FROM idx${w - 1} UNION ALL " +
            s"SELECT id FROM adm${w - 1}"
        s"""idx$w AS ($idxDef),
           |drop$w AS (SELECT DISTINCT a.id FROM b a
           |  JOIN b c ON a.bk = c.bk AND a.id <> c.id
           |  WHERE a.id IN (SELECT vec_id FROM rel WHERE wave = $w)
           |    AND (c.id IN (SELECT id FROM idx$w)
           |      OR (c.id IN (SELECT vec_id FROM rel WHERE wave = $w)
           |        AND c.id < a.id))
           |    AND ($cosAB) >= 0.95),
           |adm$w AS (SELECT vec_id AS id FROM rel WHERE wave = $w
           |  AND vec_id NOT IN (SELECT id FROM drop$w))""".stripMargin
      }.mkString(",\n")
      s"""WITH rel AS (
         |  SELECT vec_id, embedding AS v, vec_id % 3 AS wave,
         |      'organic' AS category
         |    FROM embeddings WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding, vec_id % 3, 'exact_plant'
         |    FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 7 = 2
         |  UNION ALL
         |  SELECT vec_id + 2000000, list_transform(embedding, x -> x * 2),
         |      2, 'near_plant'
         |    FROM embeddings
         |    WHERE vec_id % 5 <> 0 AND vec_id % 3 = 0 AND vec_id % 7 = 1
         |  UNION ALL
         |  SELECT vec_id + 3000000, embedding, vec_id % 3, 'ref_plant'
         |    FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 7 = 3),
         |seedrel AS (SELECT vec_id, embedding AS v FROM embeddings
         |  WHERE vec_id % 5 = 0),
         |allv AS (SELECT vec_id AS id, v FROM rel
         |  UNION ALL SELECT vec_id, v FROM seedrel),
         |b AS (SELECT id, v, ${Sim.signBucketSql("v", 4)} AS bk FROM allv),
         |$waveCtes,
         |admAll AS (SELECT id FROM adm0 UNION ALL SELECT id FROM adm1
         |  UNION ALL SELECT id FROM adm2)
         |SELECT CAST(wave AS INTEGER) AS wave, category,
         |  count(*) AS n_in,
         |  CAST(sum(CASE WHEN vec_id IN (SELECT id FROM admAll)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(coalesce(bit_xor(CASE WHEN vec_id IN
         |    (SELECT id FROM admAll) THEN $hid END), 0) AS BIGINT)
         |    AS admitted_checksum
         |FROM rel GROUP BY 1, 2 ORDER BY 1, 2"""
        .stripMargin
    },

    // the identical bit-spread hash arithmetic (the fixture pins the
    // REAL decode->dHash path to exactly these values), identical staged
    // per-wave admission replay with kind-separated exact Hamming
    "q300_media_evolving" -> {
      val hid = graft.functions.PortableHash.md5LongSql("mid::VARCHAR", 83)
      val waveCtes = (0 to 2).map { w =>
        val idxDef =
          if (w == 0) "SELECT mid FROM rel WHERE 1 = 0"
          else s"SELECT mid FROM idx${w - 1} UNION ALL " +
            s"SELECT mid FROM adm${w - 1}"
        s"""idx$w AS ($idxDef),
           |drop$w AS (SELECT DISTINCT a.mid FROM rel a JOIN rel c
           |  ON a.kind = c.kind AND a.mid <> c.mid
           |    AND bit_count(xor(a.h, c.h)) <= 1
           |  WHERE a.wave = $w
           |    AND (c.mid IN (SELECT mid FROM idx$w)
           |      OR (c.wave = $w AND c.mid < a.mid))),
           |adm$w AS (SELECT mid FROM rel WHERE wave = $w
           |  AND mid NOT IN (SELECT mid FROM drop$w))""".stripMargin
      }.mkString(",\n")
      s"""WITH sp AS (SELECT doc_id AS id,
         |    CAST(list_sum(list_transform(generate_series(0, 13),
         |      i -> CASE WHEN (((doc_id % 16384) >> i) & 1) = 1
         |        THEN (CAST(15 AS BIGINT) << (4 * i))
         |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
         |  FROM documents),
         |rel AS (
         |  SELECT id AS mid, 'image' AS kind, h, id % 3 AS wave,
         |      'organic' AS category FROM sp
         |  UNION ALL SELECT id + 10000000, 'image', h, id % 3,
         |      'exact_plant' FROM sp WHERE id % 7 = 2
         |  UNION ALL SELECT id + 20000000, 'image',
         |      xor(h, CAST(2 AS BIGINT)), 2, 'near_plant'
         |    FROM sp WHERE id % 3 = 0 AND id % 7 = 1
         |  UNION ALL SELECT id + 30000000, 'image',
         |      xor(h, CAST(17 AS BIGINT)), 2, 'miss_plant'
         |    FROM sp WHERE id % 3 = 0 AND id % 7 = 3
         |  UNION ALL SELECT id + 40000000, 'video', h, 1, 'kind_plant'
         |    FROM sp WHERE id % 3 = 0 AND id % 7 = 4),
         |$waveCtes,
         |admAll AS (SELECT mid FROM adm0 UNION ALL SELECT mid FROM adm1
         |  UNION ALL SELECT mid FROM adm2)
         |SELECT CAST(wave AS INTEGER) AS wave, category,
         |  count(*) AS n_in,
         |  CAST(sum(CASE WHEN mid IN (SELECT mid FROM admAll)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(coalesce(bit_xor(CASE WHEN mid IN
         |    (SELECT mid FROM admAll) THEN $hid END), 0) AS BIGINT)
         |    AS admitted_checksum
         |FROM rel GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // identical 4-query brute top-10 (cos DESC, id tie-break; qid 3's
    // retrieved rows removed — the empty-retrieval plant), identical
    // label-matched gold sets and half-up permille/1e6 grids; the
    // per-query seed is the retrieved ∪ truth qid set on both engines
    "q291_retrieval_eval" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS id, embedding AS v, label
           FROM embeddings WHERE vec_id >= 4),
         p AS (SELECT qid, id,
             row_number() OVER (PARTITION BY qid
               ORDER BY (${Sim.cosineSql("v", "qv")}) DESC, id) AS rk
           FROM c, q),
         r AS (SELECT qid, id, CAST(rk AS BIGINT) AS rk FROM p
           WHERE rk <= 10 AND qid < 3),
         t AS (SELECT q.qid, c.id FROM q JOIN c ON c.label = q.ql),
         nt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_truth
           FROM t GROUP BY 1),
         h AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS hits,
             min(r.rk) AS first_hit_rank
           FROM r JOIN t ON r.qid = t.qid AND r.id = t.id GROUP BY 1),
         qs AS (SELECT DISTINCT qid FROM (SELECT qid FROM r
           UNION ALL SELECT qid FROM t)),
         f AS (SELECT qs.qid,
             coalesce(nt.n_truth, 0) AS n_truth,
             coalesce(h.hits, 0) AS hits,
             h.first_hit_rank
           FROM qs LEFT JOIN nt USING (qid) LEFT JOIN h USING (qid))
         SELECT qid, n_truth, hits,
           ${graft.ops.ExactRound.halfUpDivSql("hits * 1000", "n_truth")}
             AS recall_permille,
           ${graft.ops.ExactRound.halfUpDivSql("hits * 1000", "10")}
             AS precision_permille,
           first_hit_rank,
           (CASE WHEN first_hit_rank IS NULL THEN NULL ELSE
             ${graft.ops.ExactRound.halfUpDivSql("1000000",
               "first_hit_rank")} END) AS rr_micro
         FROM f ORDER BY qid""",

    // the centroid-bounded miner replayed as rank windows over the
    // regenerated lattice (probes = top-2 per sid, assignment = rk 1
    // per tid, both under the identical (cos DESC, cid) total order),
    // the brute kernel as the q289 cross replay, the margin tail
    // applied VERBATIM to both candidate frames, diffed FULL OUTER
    "q294_margin_index" -> {
      val hSql = graft.functions.PortableHash.md5LongSql(
        "(sid::VARCHAR || ':' || tid::VARCHAR)", 37)
      def hud(num: String, den: String) =
        graft.ops.ExactRound.halfUpDivSql(num, den)
      val num = "(cm * 2000 * ks * kt)"
      val den = "(ss * kt + st * ks)"
      def marginChain(p: String, pairs: String) =
        s"""${p}rs AS (SELECT *, row_number() OVER (PARTITION BY sid
               ORDER BY cm DESC, tid) AS r FROM $pairs),
           ${p}rt AS (SELECT *, row_number() OVER (PARTITION BY tid
               ORDER BY cm DESC, sid) AS r FROM $pairs),
           ${p}sms AS (SELECT sid, CAST(sum(cm) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS ks FROM ${p}rs WHERE r <= 4
             GROUP BY 1),
           ${p}smt AS (SELECT tid, CAST(sum(cm) AS BIGINT) AS st,
               CAST(count(*) AS BIGINT) AS kt FROM ${p}rt WHERE r <= 4
             GROUP BY 1),
           ${p}bs AS (SELECT sid, tid, cm FROM ${p}rs WHERE r = 1),
           ${p}bt AS (SELECT tid, sid AS bsid FROM ${p}rt WHERE r = 1),
           ${p}m AS (SELECT bs.sid, bs.tid, bs.cm,
               CASE WHEN $den <= 0 THEN NULL
                 WHEN $num >= 0 THEN ${hud(num, den)}
                 ELSE -${hud(s"-$num", den)} END AS mpm,
               coalesce(bt.bsid = bs.sid, false) AS mutual
             FROM ${p}bs bs JOIN ${p}sms USING (sid)
               JOIN ${p}smt USING (tid)
             LEFT JOIN ${p}bt bt USING (tid)),
           ${p}f AS (SELECT * FROM ${p}m WHERE mpm >= 0)"""
      s"""WITH cents AS (SELECT t AS cid,
             list_transform(generate_series(1, 64),
               i -> CAST(CASE WHEN (i - 1) // 16 = t THEN 1.0 ELSE -0.25 END
                 AS FLOAT)) AS cvec
           FROM (SELECT unnest(generate_series(0, 3)) AS t)),
         base AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < 1000),
         pl AS (SELECT vec_id, embedding FROM base
           UNION ALL SELECT vec_id + 9000001, embedding FROM base
           WHERE vec_id % 2 = 0 AND vec_id % 10 = 2),
         s AS (SELECT vec_id AS sid, embedding AS sv FROM pl
           WHERE vec_id % 2 = 0),
         t AS (SELECT vec_id AS tid, embedding AS tv FROM pl
           WHERE vec_id % 2 = 1),
         spr AS (SELECT sid, cid, row_number() OVER (PARTITION BY sid
             ORDER BY ccos DESC, cid) AS pr
           FROM (SELECT s.sid, c.cid,
             (${Sim.cosineSql("s.sv", "c.cvec")}) AS ccos FROM s, cents c)),
         sp AS (SELECT sid, cid FROM spr WHERE pr <= 2),
         tpr AS (SELECT tid, cid, row_number() OVER (PARTITION BY tid
             ORDER BY ccos DESC, cid) AS pr
           FROM (SELECT t.tid, c.cid,
             (${Sim.cosineSql("t.tv", "c.cvec")}) AS ccos FROM t, cents c)),
         ta AS (SELECT tid, cid FROM tpr WHERE pr = 1),
         ixp AS (SELECT sp.sid, ta.tid,
             CAST(round((${Sim.cosineSql("s.sv", "t.tv")}) * 1e6) AS BIGINT)
               AS cm
           FROM sp JOIN ta ON sp.cid = ta.cid
           JOIN s ON s.sid = sp.sid JOIN t ON t.tid = ta.tid),
         brp AS (SELECT sid, tid,
             CAST(round((${Sim.cosineSql("sv", "tv")}) * 1e6) AS BIGINT)
               AS cm
           FROM s, t),
         ${marginChain("ix", "ixp")},
         ${marginChain("br", "brp")},
         j AS (SELECT coalesce(i.sid, b.sid) AS sid,
             coalesce(i.tid, b.tid) AS tid,
             i.cm AS cm_idx, i.mpm AS m_idx, i.mutual AS mut_idx,
             b.cm AS cm_br, b.mpm AS m_br, b.mutual AS mut_br
           FROM ixf i FULL OUTER JOIN brf b
             ON i.sid = b.sid AND i.tid = b.tid)
         SELECT CASE WHEN tid >= 9000001 THEN 1 ELSE 0 END AS planted,
           CASE WHEN cm_idx IS NOT NULL AND cm_br IS NOT NULL THEN 'both'
             WHEN cm_idx IS NOT NULL THEN 'idx_only'
             ELSE 'brute_only' END AS found,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN coalesce(mut_idx, false)
               AND coalesce(mut_br, false) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mutual_both,
           CAST(sum(coalesce(cm_idx, 0)) AS BIGINT) AS sum_cos_idx,
           CAST(sum(coalesce(m_idx, 0)) AS BIGINT) AS sum_margin_idx,
           CAST(sum(coalesce(cm_br, 0)) AS BIGINT) AS sum_cos_brute,
           CAST(sum(coalesce(m_br, 0)) AS BIGINT) AS sum_margin_brute,
           CAST(bit_xor($hSql) AS BIGINT) AS pair_checksum
         FROM j GROUP BY 1, 2 ORDER BY 1, 2"""
    }
  )
}
