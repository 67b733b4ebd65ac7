package graft

import graft.operators.{CorpusPipeline, Curation, Dedup}
import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-curation scale probe: synthesizes N documents (deterministic
  * token soup with a planted near-duplicate fraction), then times the
  * end-to-end corpus build (quality -> langid -> exact dedup -> MinHash
  * LSH -> connected components -> survivors) plus the standalone
  * dedup/curation stages — the 100x-the-testdata sanity check that the
  * shuffle shapes hold when the documents table stops being toy-sized.
  *
  *   SPARK_GRAFT_NDOCS=500000 sbt "runMain graft.CorpusBench"
  *
  * Prints one JSON line: stage -> seconds plus survivor counts.
  */
object CorpusBench {

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_NDOCS", "500000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Deterministic synthetic corpus: ~60-token docs from a 1k-word
    // vocabulary; every 10th document is a near-duplicate of its
    // predecessor (one token changed) and every 50th an exact duplicate.
    val vocabSize = 1000
    val docLen = 60
    val base = spark.range(nDocs).select(col("id"))
      .withColumn("toks", transform(sequence(lit(0), lit(docLen - 1)), i =>
        concat(lit("w"), pmod(xxhash64(col("id") * lit(docLen) + i), lit(vocabSize)))))
    val docs = base.select(
      col("id"),
      when(col("id") % 50 === 0 && col("id") > 0,
        // exact duplicate of doc id-1's text
        concat_ws(" ", transform(sequence(lit(0), lit(docLen - 1)), i =>
          concat(lit("w"), pmod(xxhash64((col("id") - 1) * lit(docLen) + i), lit(vocabSize))))))
        .when(col("id") % 10 === 0 && col("id") > 0,
          // near duplicate: predecessor's tokens with the first replaced
          concat_ws(" ", concat(lit("mut"), col("id")),
            concat_ws(" ", transform(sequence(lit(1), lit(docLen - 1)), i =>
              concat(lit("w"), pmod(xxhash64((col("id") - 1) * lit(docLen) + i), lit(vocabSize)))))))
        .otherwise(concat_ws(" ", col("toks"))).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count() // materialize the synthetic input before timing

    def time[A](f: => A): (A, Double) = {
      // off-the-clock GC first: dead localCheckpoint/persist blocks from the
      // PREVIOUS stage otherwise inflate this one (same lesson as Bench —
      // bm25 measured 26 s after the span stages vs 1.6 s isolated)
      System.gc()
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (nExact, tExact) = time {
      Dedup.exact(docs, col("id"), md5(col("text"))).count()
    }
    val (nPairs, tLsh) = time {
      val shingles = docs.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle"))
      val sigs = Dedup.minHashSignature(shingles, col("id"), col("shingle"), 16)
      Dedup.minHashLshPairs(sigs, 4, 4, 0.5).count()
    }
    val (nCorpus, tCorpus) = time {
      val r = CorpusPipeline.buildCorpus(docs,
        CorpusPipeline.CorpusConfig(minQuality = 0.3, nearDupThreshold = 0.5))
      val c = r.corpus.count(); r.unpersist(); c
    }
    val (nPack, tPack) = time {
      Curation.packSequences(docs, col("id"),
        TextFunctions.tokenCountEstimate(col("text")).cast("long"), 2048).count()
    }
    // round-6 stages: shuffle-free chunk explode; range-sort epoch order
    val (nChunks, tChunk) = time {
      Curation.chunkDocuments(docs, col("id"), col("text"),
        chunkSize = 32, overlap = 8).count()
    }
    val (nShuffled, tShuffle) = time {
      Curation.epochShuffle(docs.select(col("id")), col("id"), epoch = 1).count()
    }
    // round-7 stages: linear substring-dedup spans + removal (the planted
    // near/exact duplicates make every 10th doc share long 5-gram runs),
    // and BM25 retrieval against three mid-vocabulary terms.
    val (nSpans, tSpans) = time {
      Dedup.duplicateSpans(docs, col("id"), col("text"), k = 5,
        portableHash = true).count()
    }
    val (nSpansXx, tSpansXx) = time {
      Dedup.duplicateSpans(docs, col("id"), col("text"), k = 5,
        portableHash = false).count()
    }
    val (nCleaned, tRemove) = time {
      Curation.removeDuplicateSpans(docs, col("id"), col("text"), k = 5).count()
    }
    val (nHits, tBm25) = time {
      graft.operators.Search.bm25TopK(docs, col("id"), col("text"),
        Seq("w17", "w421", "w900"), k = 100).count()
    }
    // round-6 stage: BPE — distributed word-frequency train (vocabulary is
    // 1k words + per-doc mutation markers) then full-corpus encode
    val (nBpeToks, tBpe) = time {
      val merges = graft.operators.Bpe.train(docs, col("text"),
        nMerges = 200, maxWords = 50000)
      graft.operators.Bpe.encode(docs, col("id"), col("text"), merges)
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    }

    // round-6 continuation stages: bigram-LM perplexity scoring (train a
    // capped model on the corpus, score every doc — the CCNet-style
    // quality pass) and per-source CMS frequency sketching (one grouped
    // native aggregate over the full token stream)
    val (lmSum, tLm) = time {
      val lm = graft.operators.LanguageModel.trainBigramLm(
        docs, col("text"), vocabSize = 2000, maxBigrams = 100000)
      graft.operators.LanguageModel.scoreBigramLm(docs, col("id"), col("text"), lm)
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    }
    val (cmsTotal, tCms) = time {
      graft.operators.Sketches.cmsSketchByGroup(
        docs.select((col("id") % 16).as("src"),
          explode(graft.operators.Search.terms(col("text"))).as("term")),
        Seq(col("src")), col("term"), depth = 4, width = 1024)
        .agg(sum(col("total"))).collect()(0).getLong(0)
    }

    // round-6 third-batch stages: sampling/staging/drift operators over
    // the same corpus (16 synthetic sources; length(text) as token proxy)
    val srcDocs = docs.withColumn("src", concat(lit("s"), col("id") % 16))
    val (nTemp, tTemp) = time {
      graft.operators.Curation.temperatureMixtureSample(
        srcDocs, col("src"), col("id"), length(col("text")),
        alpha = 0.5, tokenBudget = nDocs * 100).count()
    }
    val (nPps, tPps) = time {
      graft.operators.Curation.ppsSample(
        docs, col("id"), length(col("text")), target = nDocs / 10).count()
    }
    val (nStage, tStage) = time {
      graft.operators.Curation.curriculumStages(
        docs, length(col("text")), nStages = 4)
        .groupBy(col("stage")).count().count()
    }
    val (jsDrift, tDrift) = time {
      graft.operators.LanguageModel.vocabularyDrift(
        docs.filter(col("id") % 2 === 0), docs.filter(col("id") % 2 === 1),
        col("text"), vocabSize = 2000)
        .select(col("js_n9")).limit(1).collect()(0).getLong(0)
    }
    // overlap matrix: the heaviest round-7 op — a distinct over ~n*58
    // (group, shingle) rows then a shingle-keyed pair join (5 groups)
    val (nOverlap, tOverlap) = time {
      graft.operators.Dedup.groupShingleOverlap(
        docs.withColumn("src", concat(lit("s"), col("id") % 5)),
        col("src"), col("text"), shingleN = 3).count()
    }

    // round-8 stages: calibrated ensemble (LM + heuristics + CDF joins),
    // the epoch-ordered shard plan, the boilerplate token scrub (1k-word
    // vocabulary: ~6% df per word, so frac 0.03 actually scrubs), and the
    // cross-half incremental near-dup against a signature store
    val (nEnsemble, tEnsemble) = time {
      val lm = graft.operators.LanguageModel.trainBigramLm(
        docs, col("text"), vocabSize = 2000, maxBigrams = 100000)
      graft.operators.QualityModel.ensembleQuality(
        docs, col("id"), col("text"), lm)
        .filter(col("ensemble").isNotNull).count()
    }
    val (nShardPacks, tShards) = time {
      Curation.trainingShardPlan(docs, col("id"), col("text"),
        TextFunctions.tokenCountEstimate(col("text")).cast("long"),
        epoch = 1, tokenBudget = 2048, numShards = 64)
        .select(col("shard"), col("pack")).distinct().count()
    }
    val (nScrubbed, tScrub) = time {
      Curation.removeBoilerplateLines(docs, col("id"), col("text"),
        minDocFrac = 0.03, sep = " ")
        .agg(sum(col("n_removed"))).collect()(0).getLong(0)
    }
    val (nNearFlags, tIncNd) = time {
      def sigs(d: org.apache.spark.sql.DataFrame) = Dedup.minHashSignature(
        d.select(col("id"),
          explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle")),
        col("id"), col("shingle"), 16)
      Dedup.incrementalNearDup(
        sigs(docs.filter(col("id") >= nDocs / 2)),
        sigs(docs.filter(col("id") < nDocs / 2)),
        numBands = 4, rowsPerBand = 4, threshold = 0.5)
        .filter(col("near_dup")).count()
    }
    val (nHeadDocs, tPpl) = time {
      val lm = graft.operators.LanguageModel.trainBigramLm(
        docs, col("text"), vocabSize = 2000, maxBigrams = 100000)
      graft.operators.LanguageModel.perplexityBuckets(
        docs, col("id"), col("text"), lm)
        .filter(col("ppl_bucket") === "head").count()
    }

    // round-9 stages: cross-corpus novelty (inverted-index df), asymmetric
    // containment pairs, triangle counts over the LSH pair graph (the
    // planted near-dup chains make real wedges), Gopher rules (zero-
    // shuffle projection) and corpus-scope distinct-2 diversity
    val (nNovel, tNovelty) = time {
      graft.operators.Search.ngramNovelty(docs, col("id"), col("text"), n = 3)
        .agg(sum(col("n_novel"))).collect()(0).getLong(0)
    }
    val (nContain, tContain) = time {
      Dedup.containmentPairs(docs, col("id"), col("text"),
        n = 3, threshold = 0.8, maxShingleDf = 50).count()
    }
    val (nTris, tTri) = time {
      val shingles = docs.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle"))
      val sigs = Dedup.minHashSignature(shingles, col("id"), col("shingle"), 16)
      val pairs = Dedup.minHashLshPairs(sigs, 4, 4, 0.5)
      graft.operators.Graph.triangleCounts(pairs)
        .agg(sum(col("n_triangles"))).collect()(0).getLong(0) / 3
    }
    val (nGopherPass, tGopher) = time {
      Curation.gopherRules(docs, col("id"), col("text"), minWords = 5)
        .filter(col("pass")).count()
    }
    // round-10 stages: CC component-size histogram and the PageRank-
    // canonical member over the LSH pair graph (CC + 3 integer PR
    // iterations at 500k-doc pair scale)
    val (nComps, tComps) = time {
      val shingles = docs.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle"))
      val sigs = Dedup.minHashSignature(shingles, col("id"), col("shingle"), 16)
      val pairs = Dedup.minHashLshPairs(sigs, 4, 4, 0.5)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component")).count().count()
    }
    val (nCanon, tCanon) = time {
      val shingles = docs.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle"))
      val sigs = Dedup.minHashSignature(shingles, col("id"), col("shingle"), 16)
      val pairs = Dedup.minHashLshPairs(sigs, 4, 4, 0.5)
      graft.operators.Graph.canonicalByRank(pairs, iters = 3)
        .filter(col("is_canonical")).count()
    }
    val (nDistinct, tDiversity) = time {
      graft.operators.Search.distinctNgrams(
        docs.withColumn("src", concat(lit("s"), col("id") % 5)),
        col("src"), col("text"), n = 2)
        .agg(sum(col("n_distinct"))).collect()(0).getLong(0)
    }
    // round-10 stages: EXACT Jaccard via prefix filtering (rarest-first
    // prefixes make the candidate join df~1 on random soup, so only the
    // planted duplicate chains generate candidates) and the Pareto
    // frontier (staircase agg + tiny window + broadcast membership)
    val (nExactPairs, tPrefix) = time {
      Dedup.prefixJaccardPairs(docs, col("id"), col("text"),
        n = 3, tNum = 1, tDen = 2).count()
    }
    val (nFrontier, tPareto) = time {
      val toks = TextFunctions.tokens(col("text"))
      Curation.paretoFrontier(
        docs.select(col("id"),
          size(array_distinct(toks)).as("d"), size(toks).as("n")),
        col("id"), col("d"), col("n")).count()
    }
    // round-11 stage: global cross-document exact-substring dedup — the
    // planted exact/near duplicates give every 10th doc a long shared
    // run; subquadratic = the gram shuffle + islands + slice join, never
    // a pair expansion (compare against n^2/2 = 1.25e11 pair checks)
    val (nSubSpans, tSubstr) = time {
      Dedup.substringDedup(docs, col("id"), col("text"), k = 5,
        portableHash = true).count()
    }
    val (nSubSpansXx, tSubstrXx) = time {
      Dedup.substringDedup(docs, col("id"), col("text"), k = 5,
        portableHash = false).count()
    }
    // round-11 curation stages: hard per-source quota (two-level prefix
    // sum over 16 sources x ~31k docs each), exact-N global sample
    // (bucket-histogram threshold selection), and the waterfill
    // allocator (corpus contributes one agg; windows run over 16 rows)
    val (nAdmitted, tQuota) = time {
      Curation.sourceQuota(srcDocs, col("src"), col("id"),
        length(col("text")), quotaTokens = nDocs * 100 / 32)
        .filter(col("admitted")).count()
    }
    val (nExactSample, tExactSample) = time {
      Curation.exactSample(docs.select(col("id")), col("id"), nDocs / 5).count()
    }
    val (nAlloc, tWaterfill) = time {
      Curation.cappedMixturePlan(srcDocs, col("src"), length(col("text")),
        c => c * 2 + 1, budget = nDocs * 100 / 4)
        .agg(sum(col("allocation"))).collect()(0).getLong(0)
    }

    // round-12 stages: RAKE keyword extraction (phrase windows + word
    // stats + sorted folds), span-corruption augmentation (zero-shuffle
    // projection), TF-IDF cosine near-dup (df-capped candidates + full-
    // vector folds; planted chains give real rare-shingle overlap), and
    // the exactly balanced k-fold (two-level bucketed rank)
    val (nPhrases, tRake) = time {
      graft.operators.Search.rakeKeywords(docs, col("id"), col("text"),
        stopwords = Seq("w1", "w2", "w3", "w4", "w5"), topK = 30).count()
    }
    val (nSpanMasked, tSpanAug) = time {
      Curation.augmentSpanCorruption(docs, col("id"), col("text"),
        maskPermille = 200, blockSize = 8)
        .agg(sum(col("n_masked"))).collect()(0).getLong(0)
    }
    // round-13 split: the corpus-wide stats fold (postings + norms) is
    // its own stage, then the pair step runs TWICE off the pinned model
    // (threshold 0.3 and a 0.5 re-query) — the reuse stage proves a
    // threshold sweep never re-pays the stats pass.
    val (tfidfModel, tTfidfStats) = time {
      val m = Dedup.tfidfStats(docs, col("id"), col("text"), shingleN = 3)
      m.norms.count()
      m
    }
    val (nTfidfPairs, tTfidf) = time {
      Dedup.tfidfNearDupFromStats(tfidfModel, threshold = 0.3, maxDf = 3).count()
    }
    val (nTfidfPairsHi, tTfidfReuse) = time {
      Dedup.tfidfNearDupFromStats(tfidfModel, threshold = 0.5, maxDf = 3).count()
    }
    val (nFolds, tKfold) = time {
      Curation.kFoldSplit(srcDocs, col("src"), col("id"), k = 10)
        .groupBy(col("fold")).count().count()
    }

    println(
      f"""{"metric":"corpus_bench","n_docs":$n,"exact_survivors":$nExact,"lsh_pairs":$nPairs,"corpus_survivors":$nCorpus,"packed":$nPack,"chunks":$nChunks,"shuffled":$nShuffled,"dup_spans":$nSpans,"dup_spans_xx":$nSpansXx,"cleaned":$nCleaned,"bm25_hits":$nHits,"bpe_tokens":$nBpeToks,"lm_scored_tokens":$lmSum,"cms_total":$cmsTotal,"temp_sampled":$nTemp,"pps_sampled":$nPps,"stages":$nStage,"vocab_js_n9":$jsDrift,"overlap_pairs":$nOverlap,"ensemble_scored":$nEnsemble,"shard_packs":$nShardPacks,"scrubbed_tokens":$nScrubbed,"near_dup_flags":$nNearFlags,"ppl_head":$nHeadDocs,"novel_grams":$nNovel,"containment_pairs":$nContain,"triangles":$nTris,"gopher_pass":$nGopherPass,"distinct_bigrams":$nDistinct,"components":$nComps,"canonical":$nCanon,"exact_jaccard_pairs":$nExactPairs,"pareto_frontier":$nFrontier,"substr_spans":$nSubSpans,"substr_spans_xx":$nSubSpansXx,"quota_admitted":$nAdmitted,"exact_sampled":$nExactSample,"waterfill_alloc":$nAlloc,"rake_phrases":$nPhrases,"span_masked_tokens":$nSpanMasked,"tfidf_pairs":$nTfidfPairs,"tfidf_pairs_hi":$nTfidfPairsHi,"kfolds":$nFolds,"sec":{"exact":$tExact%.1f,"minhash_lsh":$tLsh%.1f,"build_corpus":$tCorpus%.1f,"pack":$tPack%.1f,"chunk":$tChunk%.1f,"epoch_shuffle":$tShuffle%.1f,"dup_spans":$tSpans%.1f,"dup_spans_xx":$tSpansXx%.1f,"remove_spans":$tRemove%.1f,"bm25":$tBm25%.1f,"bpe":$tBpe%.1f,"lm_score":$tLm%.1f,"cms":$tCms%.1f,"temperature":$tTemp%.1f,"pps":$tPps%.1f,"curriculum":$tStage%.1f,"vocab_drift":$tDrift%.1f,"overlap":$tOverlap%.1f,"ensemble":$tEnsemble%.1f,"training_shards":$tShards%.1f,"boilerplate_scrub":$tScrub%.1f,"incremental_neardup":$tIncNd%.1f,"ppl_buckets":$tPpl%.1f,"novelty":$tNovelty%.1f,"containment":$tContain%.1f,"triangles":$tTri%.1f,"gopher":$tGopher%.1f,"diversity":$tDiversity%.1f,"components":$tComps%.1f,"canonical_rank":$tCanon%.1f,"prefix_jaccard":$tPrefix%.1f,"pareto":$tPareto%.1f,"substring_dedup":$tSubstr%.1f,"substring_dedup_xx":$tSubstrXx%.1f,"source_quota":$tQuota%.1f,"exact_sample":$tExactSample%.1f,"waterfill":$tWaterfill%.1f,"rake":$tRake%.1f,"span_aug":$tSpanAug%.1f,"tfidf_stats":$tTfidfStats%.1f,"tfidf_neardup":$tTfidf%.1f,"tfidf_requery":$tTfidfReuse%.1f,"kfold":$tKfold%.1f}}""")
    spark.stop()
  }
}
