package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-family scale stress (run each round, table kept in NOTES.md):
  * replicates the sf0.1 documents corpus `reps`x — each original plus
  * perturbed near-duplicate replicas, a pathologically dup-dense
  * distribution — materializes it to parquet, and times each dedup
  * operator through the noop sink. The point is the scaling SHAPE:
  * runtime must track output-pair count, not corpus^2.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleStress"
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "10").toInt
    val out = "/tmp/graft_stress_docs"
    val spark = Sessions.local(32, "graft-scale-stress")

    // Replica i != 0 appends a marker token: near-dup of its original
    // (one extra shingle), never an exact dup.
    val docs = Tables.documents(spark, dir)
    (0 until reps).map { i =>
      docs.select(
        (col("doc_id") * reps + i).as("doc_id"),
        (if (i == 0) col("text")
         else concat(col("text"), lit(s" replicamarker$i"))).as("text"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out)
    val big = spark.read.parquet(out)
    println(s"corpus: ${big.count()} docs ($reps x $dir)")

    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc() // release localCheckpoint blocks (NOTES finding #17)
      println(f"$label%-28s $dt%7.1f s")
    }

    time("exact_dedup") {
      operators.TextDedup.exact(big, "doc_id", "text")
    }
    time("minhash_lsh (verify incl.)") {
      val idx = operators.TextDedup
        .buildIndex(big, "doc_id", "text", n = 3, bits = 32).persist()
      operators.TextDedup.minhashLshPairs(idx, 0.05, numHashes = 32, bands = 16)
    }
    time("minhash_lsh (estimate)") {
      val idx = operators.TextDedup
        .buildIndex(big, "doc_id", "text", n = 3, bits = 32)
      val sig = operators.TextDedup.minhashSignatures(idx, 32).persist()
      operators.TextDedup.minhashEstimatePairs(sig, 0.05, numHashes = 32, bands = 16)
    }
    time("simhash (hamming<=3)") {
      operators.TextDedup.simhashPairs(big, "doc_id", "text", maxHamming = 3)
    }
    time("ngram_jaccard exact t=0.05") {
      val idx = operators.TextDedup
        .buildIndex(big, "doc_id", "text", n = 3, bits = 64).persist()
      operators.TextDedup.ngramJaccardPairs(idx, 0.05)
    }
    time("dedup clusters (pairs->canonical)") {
      val idx = operators.TextDedup
        .buildIndex(big, "doc_id", "text", n = 3, bits = 32).persist()
      operators.TextDedup.connectedComponents(
        operators.TextDedup.minhashLshPairs(idx, 0.05, numHashes = 32, bands = 16))
    }
    // Pathological for substring dedup: every replica shares its full
    // text with 9 siblings, so essentially EVERY window is repeated —
    // the hits frame is corpus-token-scale, the worst case the run
    // merge must absorb. Work tracks repeated-window count.
    time("repeated_spans k=8") {
      operators.TextDedup.repeatedSpans(big, "doc_id", "text", k = 8)
    }

    // CDC chunk inventory on the dup-dense corpus: work is one token
    // explode + per-doc windows + two hash-keyed aggregations — must
    // track corpus tokens + duplicated-chunk mass, never corpus^2.
    time("cdc chunk dups w=4 mod=8") {
      operators.TextDedup.cdcChunkDups(big, "doc_id", "text", w = 4, modulus = 8)
    }

    // Bloom-gated incremental exact dedup (q91): history = the whole
    // replicated corpus; batch = same size, half exact recrawls of
    // history, half novel. Timed work = one history-hash pass (bloom
    // build), the map-tier probe over the batch, and a confirm join
    // whose left side is only the recrawl half + the fpp sliver —
    // the full batch never shuffles against history.
    time("bloom_gated_new (50% recrawl)") {
      val batch = big.select(
        (col("doc_id") + lit(100000000L)).as("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" novelmarker"))).as("text"))
      operators.TextDedup.bloomGatedNew(big, batch, "doc_id", "text")
    }

    // Incremental clustering cadence: last week's corpus is the 90%
    // with doc_id % 10 != 0; the weekly batch adds the other 10%.
    // Incremental = contract new pairs through the existing labels and
    // propagate only the (batch-sized) contracted graph; must be much
    // cheaper than re-propagating the full pair graph AND bit-equal to
    // the from-scratch run on old+new pairs.
    {
      import operators.TextDedup
      val oldDocs = big.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val idxOld = TextDedup.buildIndex(oldDocs, "doc_id", "text", n = 3, bits = 32).persist()
      val existing = TextDedup
        .connectedComponents(TextDedup.minhashLshPairs(idxOld, 0.05, 32, 16))
        .persist()
      existing.count() // materialize: this is "last week's run", untimed
      val idxFull = TextDedup.buildIndex(big, "doc_id", "text", n = 3, bits = 32).persist()
      val pairsFull = TextDedup.minhashLshPairs(idxFull, 0.05, 32, 16).persist()
      println(s"pairs: ${pairsFull.count()} full")
      // LSH pairs among old docs are identical run-to-run, so the new
      // batch's edges are exactly those touching a new doc.
      val newPairs = pairsFull.where(
        pmod(col("doc_a"), lit(10)) === 0 || pmod(col("doc_b"), lit(10)) === 0)
      // Three regimes: (a) corpus pair graph fits the driver -> full
      // union-find is the fast path and incremental is unnecessary;
      // (b) corpus pair graph ABOVE the driver threshold (simulated
      // with threshold=0) -> full pays per-round propagation over the
      // whole graph while incremental still solves only the
      // batch-sized contracted graph; (c) both above threshold ->
      // propagation both sides, incremental's rounds are batch-sized.
      time("cc full (driver union-find)") {
        TextDedup.connectedComponents(pairsFull)
      }
      time("cc full (propagation regime)") {
        TextDedup.connectedComponents(pairsFull, driverThreshold = 0L)
      }
      time("cc incremental (10% new)") {
        TextDedup.connectedComponentsIncremental(existing, newPairs)
      }
      val full = TextDedup.connectedComponents(pairsFull)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fullProp = TextDedup.connectedComponents(pairsFull, driverThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inc = TextDedup.connectedComponentsIncremental(existing, newPairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"incremental == from-scratch: ${inc == full}, " +
        s"union-find == propagation: ${full == fullProp} (${full.size} labeled docs)")
      idxOld.unpersist(); idxFull.unpersist(); pairsFull.unpersist(); existing.unpersist()
    }

    // Realistic-IVF regime (VERDICT r03 item 1 done-criterion): train +
    // assign at k=1024 on a 50k-vector synthetic corpus, dim 64 —
    // unreachable under the pre-r04 literal-centroid plan shape. The
    // corpus is generated DISTRIBUTED (hash-derived floats, no driver
    // array) so the row is pure engine cost.
    {
      val dim = 64
      val vecs = spark.range(50000).select(
        col("id").as("vec_id"),
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(dim - 1)),
          d => (pmod(hash(col("id"), d), lit(997)) / lit(499.0) - lit(1.0))
            .cast("float")).as("embedding"))
      vecs.write.mode("overwrite").parquet("/tmp/graft_stress_vecs")
      val corpus = spark.read.parquet("/tmp/graft_stress_vecs")
      time("kmeans k=1024 train+assign") {
        val cen = operators.VectorSim.kmeansCentroids(corpus, k = 1024, iters = 2)
        operators.VectorSim.kmeansAssignments(corpus, cen)
      }
      // PQ (q73) at 50k: train 8x16 codebooks, encode the corpus, ADC
      // top-10 for 100 queries. Per scored pair: 8 table lookups
      // instead of 64 multiplies; the scored frame is still
      // |queries| x |corpus| rows — pair IVF cells with PQ codes to cut
      // that (the standard IVF-ADC composition; both halves are here).
      time("pq train+encode+search (50k)") {
        val m = operators.VectorSim.pqTrain(corpus, dim = 64, subspaces = 8,
          k = 16, iters = 2)
        operators.VectorSim.pqSearch(corpus.where(col("vec_id") < 100),
          corpus, m, k = 10)
      }
      // IVFADC (q74) at 50k: the same PQ model under coarse pruning.
      // The scored-pair frame drops from |q| x 50k to
      // ~|q| x (nprobe/64) x 50k; the nprobe=4 vs nprobe=16 rows pin
      // that runtime tracks the probe fraction (VERDICT r05 item 2
      // done-criterion) — both pay the same fixed train+encode cost,
      // so the delta isolates the pruned ADC scan.
      locally {
        val m = operators.VectorSim.pqTrain(corpus, dim = 64, subspaces = 8,
          k = 16, iters = 2)
        val qs = corpus.where(col("vec_id") < 100)
        for (np <- Seq(4, 16))
          time(f"ivfadc k=64 nprobe=$np%-2d (50k)") {
            operators.VectorSim.pqSearchIvf(qs, corpus, m,
              kClusters = 64, iters = 2, nprobe = np, k = 10)
          }
      }
      // Semantic dedup (q70) at a dup-dense 55k: the 50k corpus plus
      // 5k exact-duplicate replicas (distinct ids). k=256 keeps mean
      // cell population ~215, so candidate scoring is ~6M pairs — the
      // within-cell equi-join shape; grouping + survivor pick ride the
      // same hybrid CC and struct-min as text dedup.
      time("semantic dedup k=256 (5k dups)") {
        val dups = corpus.where(col("vec_id") < 5000)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        operators.VectorSim.semanticDedup(corpus.unionByName(dups),
          k = 256, iters = 2, threshold = 0.999)
      }
      // Planted-skew semantic dedup (q75 guard): 20k EXACT replicas of
      // one vector land in ONE cell (~29% of the 70k corpus) — the
      // degenerate case VERDICT r05 flagged. Unguarded that cell alone
      // is ~200M cosine pairs; cap=2000 salts it into ~11 sub-cells
      // (~19M pairs), so the row stays in the same band as the
      // non-skewed one above instead of going quadratic.
      time("semantic dedup SKEW cap=2k (20k one-cell)") {
        val one = corpus.where(col("vec_id") === 0)
          .select(col("embedding").as("e0"))
        val skewBlock = spark.range(20000).crossJoin(one)
          .select((col("id") + 200000L).as("vec_id"),
            col("e0").as("embedding"))
        operators.VectorSim.semanticDedup(corpus.unionByName(skewBlock),
          k = 256, iters = 2, threshold = 0.999, maxCellSize = 2000)
      }
      // Incremental semantic-state cadence (VERDICT r06 item 3):
      // frozen k=256 quantizer; last week = the 50k corpus (cells +
      // labels already in state, untimed), weekly batch = 5k dup
      // replicas. Scratch re-pays cell assignment AND the full
      // within-cell pair pass over the composed 55k; incremental
      // assigns cells for the 5k batch only and pair-joins just those
      // against the composed cells — per-increment work tracks the
      // BATCH, not the corpus, and the labels are pinned equal.
      locally {
        import operators.{TextDedup, VectorSim}
        val dups = corpus.where(col("vec_id") < 5000)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val all = corpus.unionByName(dups)
        val cen = VectorSim.kmeansCentroids(corpus, 256, 2)
        val cellsOld = VectorSim.semanticCells(corpus, cen).persist()
        val labelsOld = TextDedup.connectedComponents(
          VectorSim.semanticPairsIncremental(cellsOld, corpus,
            cellsOld.select(col("vec_id")), 0.999)).persist()
        labelsOld.count() // materialize: "last week's run", untimed
        // Incremental FIRST: time()'s clearCache hygiene would
        // otherwise evict the persisted state and the "incremental"
        // row would re-pay last week's full chain inside its timing.
        time("sem-state incremental (5k)") {
          val composed = cellsOld.unionByName(VectorSim.semanticCells(dups, cen))
          TextDedup.connectedComponentsIncremental(labelsOld,
            VectorSim.semanticPairsIncremental(composed, all,
              dups.select(col("vec_id")), 0.999))
        }
        cellsOld.count(); labelsOld.count() // re-materialize after clearCache
        time("sem-state scratch (55k full)") {
          val cAll = VectorSim.semanticCells(all, cen)
          TextDedup.connectedComponents(VectorSim.semanticPairsIncremental(
            cAll, all, cAll.select(col("vec_id")), 0.999))
        }
        val cAll = VectorSim.semanticCells(all, cen)
        val scratch = TextDedup.connectedComponents(
          VectorSim.semanticPairsIncremental(cAll, all,
            cAll.select(col("vec_id")), 0.999))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val inc = TextDedup.connectedComponentsIncremental(labelsOld,
          VectorSim.semanticPairsIncremental(
            cellsOld.unionByName(VectorSim.semanticCells(dups, cen)), all,
            dups.select(col("vec_id")), 0.999))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"sem-state incremental == scratch: ${inc == scratch} " +
          s"(${scratch.size} labeled vecs)")
        cellsOld.unpersist(); labelsOld.unpersist()
      }
      // Incremental ANN-codes append (VERDICT r07 item 3): frozen
      // IVFADC model trained on the 50k corpus (untimed, "init");
      // weekly batch = 5k new vectors. Incremental encodes the BATCH
      // only; scratch re-encodes the composed 55k. Per-increment work
      // must track the batch; composed slices are pinned equal to the
      // scratch encode (a per-row map under a frozen model).
      locally {
        import operators.VectorSim
        val batch = corpus.where(col("vec_id") < 5000)
          .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"))
        val all = corpus.unionByName(batch)
        val m = VectorSim.pqTrain(corpus, dim = 64, subspaces = 8,
          k = 16, iters = 2)
        val cen = VectorSim.kmeansCentroids(corpus, 64, 2)
        VectorSim.annCodesFrame(corpus, m, cen)
          .write.mode("overwrite").parquet("/tmp/graft_stress_codes_w0")
        time("ann-codes incremental (5k)") {
          VectorSim.annCodesFrame(batch, m, cen)
        }
        time("ann-codes scratch (55k full)") {
          VectorSim.annCodesFrame(all, m, cen)
        }
        VectorSim.annCodesFrame(batch, m, cen)
          .write.mode("overwrite").parquet("/tmp/graft_stress_codes_w1")
        val composed = spark.read.parquet(
          "/tmp/graft_stress_codes_w0", "/tmp/graft_stress_codes_w1")
          .collect().map(_.toSeq).toSet
        val scratchCodes = VectorSim.annCodesFrame(all, m, cen)
          .collect().map(_.toSeq).toSet
        println(s"ann-codes composed == scratch: ${composed == scratchCodes} " +
          s"(${scratchCodes.size} coded vecs)")
      }
    }

    // DSIR importance resampling (q71) over the 10x text corpus: two
    // gram scans (target + raw) collapse to compact bucket profiles;
    // the ratio table stays `buckets` rows regardless of corpus size;
    // selection is a TakeOrderedAndProject top-k.
    time("importance resample (10x corpus)") {
      operators.DataMix.importanceResample(
        big.where(pmod(col("doc_id"), lit(97)) =!= 0),
        big.where(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", buckets = 65536, take = 1000)
    }

    // Quality classifier (q82) at 10x: training is iters x (margin
    // groupBy + gradient groupBy) over the persisted compact feature
    // frame; the weight table stays `buckets` rows regardless of
    // corpus size. The timed frame is train + full-corpus scoring.
    time("quality classifier 3 iters (10x)") {
      val labeled = big.withColumn("y",
        (pmod(col("doc_id"), lit(97)) === 0).cast("int"))
      val w = operators.QualityClassifier.train(labeled, "doc_id", "text",
        "y", buckets = 65536, iters = 3, lr = 0.5)
      operators.QualityClassifier.score(big, "doc_id", "text", w,
        buckets = 65536)
    }

    // CCNet perplexity bucketing (q78) at 10x: LM chain + score
    // histogram + broadcast map-back — the row pins that the bucket
    // assignment adds only a histogram groupBy on top of LM scoring
    // (no global sort / single-partition window at any size).
    time("perplexity buckets (10x)") {
      operators.TextAnalysis.perplexityBuckets(
        big.where(pmod(col("doc_id"), lit(97)) === 0), big,
        "doc_id", "text")
    }

    // Exact grouped quantiles (q143) at 10x: ONE corpus pass melts two
    // size metrics, then histogram + per-metric cumulative + broadcast
    // percentile pick — the row pins that exact order statistics cost
    // a distinct-value-scale shuffle, never a corpus sort.
    time("exact quantiles 2 metrics (10x)") {
      operators.Ranking.exactQuantilesBy(
        big.select(explode(array(
          struct(lit("chars").as("metric"),
            length(col("text")).cast("long").as("v")),
          struct(lit("words").as("metric"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("v")))).as("m"))
          .select(col("m.metric").as("metric"), col("m.v").as("v")),
        "metric", "v", Seq(10, 25, 50, 75, 90, 99))
    }

    // Boolean-metric global rank (VERDICT r08 item 1) at 10x: the
    // LOW-cardinality order column whose tie group IS the corpus —
    // 90% of rows share flag=0. The md5 tie-bucket split caps every
    // window task at ~1/4096 of the dominant tie group, so ranking a
    // boolean prices like ranking a continuous score (no
    // dominant-task sort at any size).
    time("globalRank boolean metric (10x)") {
      operators.Ranking.globalRank(
        big.select(col("doc_id"),
          (pmod(col("doc_id"), lit(10)) === 0).cast("int").as("flag")),
        "flag", "doc_id", "rank")
    }

    // Line dedup (q144) at 10x: synthesized 8-token-slice lines + a
    // footer planted on half the corpus — hash-df count (one shuffle)
    // + anti-join + per-doc reassembly; work tracks corpus lines.
    time("line dedup (10x, synth lines)") {
      import graft.functions.TextFunctions.tokens
      val toks = tokens(col("text"))
      val nl = greatest(floor((size(toks) + lit(7)) / lit(8)).cast("int"), lit(1))
      val lined = big.select(col("doc_id"),
        concat(
          array_join(transform(sequence(lit(0), nl - 1), i =>
            array_join(slice(toks, i * 8 + 1, lit(8)), " ")), "\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("\nsubscribe to the newsletter for weekly updates"))
            .otherwise(lit(""))).as("text"))
      operators.TextDedup.removeRepeatedLines(lined, "doc_id", "text")
    }

    // Gopher gate (q79) over the 10x corpus: one gopher_measures
    // kernel call per row — the map-tier quality gate priced at 50k
    // docs (the declarative HOF form measured ~3x slower at sf0.1).
    time("gopher rule gate (10x)") {
      operators.TextAnalysis.gopherRules(big, "doc_id", "text")
    }

    // Perceptual image dedup (q89) at 50k assets: encode+decode+
    // resize+hash per image inside mapPartitions, then the hash
    // groupBy — prices real codec throughput distributed.
    time("image near-dup 50k PNGs") {
      operators.Multimodal.imageNearDup(
        operators.Multimodal.patternAssetsFromIds(
          big.select(col("doc_id")), "doc_id", classes = 6))
    }

    // Audio near-dup (q147) at 50k assets: encode+real-WAV-decode+
    // band-energy fingerprint inside mapPartitions, then the hash
    // groupBy — the image row's audio twin, pricing codec throughput
    // on multi-second PCM payloads.
    time("audio near-dup 50k WAVs") {
      operators.Multimodal.audioNearDup(
        operators.Multimodal.toneAssetsFromIds(
          big.select(col("doc_id")), "doc_id", classes = 6))
    }

    // Per-source cap (q80) with planted 80% skew: the bounded
    // aggregate keeps <= cap rows per group per task, so the hot
    // group costs map-side what any other does — the row the window
    // row_number() form would pay a one-partition sort for.
    time("source cap=1000 (80% hot group)") {
      operators.DataMix.groupCap(
        big.withColumn("source",
          when(pmod(col("doc_id"), lit(5)) =!= 0, "hot")
            .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(1000))))),
        "doc_id", "source", cap = 1000)
    }

    // End-to-end weekly cadence (VERDICT r04 item 8): init on 90% of
    // the corpus plays "last week" (untimed), then the timed 10% batch
    // through runIncremental vs a timed from-scratch runInit over 100%.
    // The batch pays batch-scale shingle/signature/pair work against
    // stored state; both paths pay the same output tail. Decon is
    // disabled (floor above any doc's shingle count): at floor 5 the
    // benchmark replicas' siblings drag most of the corpus out and the
    // shared output tail dominates both paths — the row must price the
    // corpus-scale dedup FRONT the incremental path exists to avoid.
    {
      import pipeline.CurationRun
      val noDecon = 1000000
      val bench = big.where(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = big.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val oldDocs = corpus.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = corpus.where(pmod(col("doc_id"), lit(10)) === 0)
      CurationRun.runInit(oldDocs, bench, "/tmp/graft_inc_out0",
        "/tmp/graft_inc_state0", minContaminatedShingles = noDecon)
      spark.catalog.clearCache(); System.gc()
      var t0 = System.nanoTime()
      CurationRun.runIncremental(batch, bench, "/tmp/graft_inc_out1",
        "/tmp/graft_inc_state0", "/tmp/graft_inc_state1",
        minContaminatedShingles = noDecon)
      println(f"curation incremental (10%% batch) ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      spark.catalog.clearCache(); System.gc()
      t0 = System.nanoTime()
      CurationRun.runInit(corpus, bench, "/tmp/graft_inc_out_full",
        "/tmp/graft_inc_state_full", minContaminatedShingles = noDecon)
      println(f"curation from-scratch (full)     ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      spark.catalog.clearCache(); System.gc()

      // Drift decision is O(#slices), not O(corpus) (VERDICT r08
      // item 3): the same cadence WITH semantic state over replicated
      // 10x embeddings, then the weekly retrain decision timed alone —
      // once at lineage 2 and again at lineage 3 (flat), against the
      // full state-embedding re-score it replaced (tracks the corpus).
      val emb10 = {
        val emb = Tables.embeddings(spark, dir)
        (0 until reps).map(i => emb.select(
          (col("vec_id") * reps + i).as("vec_id"), col("embedding")))
          .reduce(_ unionByName _)
      }
      val batchB = batch.where(pmod(col("doc_id"), lit(2)) === 0)
      val batchC = batch.where(pmod(col("doc_id"), lit(2)) =!= 0)
      CurationRun.runInit(oldDocs, bench, "/tmp/graft_drift_out0",
        "/tmp/graft_drift_state0", minContaminatedShingles = noDecon,
        embeddings = Some(emb10), semanticState = true)
      CurationRun.runIncremental(batchB, bench, "/tmp/graft_drift_out1",
        "/tmp/graft_drift_state0", "/tmp/graft_drift_state1",
        minContaminatedShingles = noDecon, embeddings = Some(emb10))
      spark.catalog.clearCache(); System.gc()
      t0 = System.nanoTime()
      CurationRun.quantizerDriftDecision(spark, "/tmp/graft_drift_state1")
      println(f"drift decision, lineage 2        ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      CurationRun.runIncremental(batchC, bench, "/tmp/graft_drift_out2",
        "/tmp/graft_drift_state1", "/tmp/graft_drift_state2",
        minContaminatedShingles = noDecon, embeddings = Some(emb10))
      spark.catalog.clearCache(); System.gc()
      t0 = System.nanoTime()
      CurationRun.quantizerDriftDecision(spark, "/tmp/graft_drift_state2")
      println(f"drift decision, lineage 3        ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      // The replaced shape: re-score EVERY state slice's embeddings
      // under the frozen quantizer (what r07's policy paid per week).
      t0 = System.nanoTime()
      val cen10 = CurationRun.readSemCentroids(spark,
        "/tmp/graft_drift_state2/sem_centroids")
      val stateVecs = graft.pipeline.StateLayout.readSlicePaths(spark, Seq(
          "/tmp/graft_drift_state0/decon_batch",
          "/tmp/graft_drift_state1/decon_batch"))
        .select(col("doc_id"))
        .join(emb10.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      operators.VectorSim.quantizerDrift(Seq("state" -> stateVecs), cen10)
        .write.format("noop").mode("overwrite").save()
      println(f"  vs full state re-score         ${(System.nanoTime() - t0) / 1e9}%7.1f s")
      spark.catalog.clearCache(); System.gc()
    }

    // df-capped direct Jaccard (VERDICT r09 item 5): the adversarial
    // hot-shingle corpus — ONE shared shingle in 20% of 200k docs,
    // below the qualifying threshold (J ~ 0.037 < t = 0.05), plus 100
    // genuine near-dup pairs. Uncapped, the hot shingle ALONE feeds
    // C(40k, 2) ~ 8e8 candidate pairs into the self-join before the
    // threshold can reject them; capped, it never generates (its docs
    // are far from risky at 1 hot shingle of 14), and the candidate
    // volume is the true near-dup mass. The printed contrast is the
    // uncapped volume computed from the df table — exactness is
    // spec-pinned (TextOpsSpec), this row prices the worst case.
    {
      import operators.TextDedup
      val nAdv = 200000L
      val docsAdv = spark.range(nAdv).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          ((0 until 12).map(i => concat(lit(s"w${i}_"), col("id"))) :+
            when(pmod(col("id"), lit(5)) === 0,
              lit("shared footer phrase")).otherwise(
              concat(lit("uniq_"), col("id")))): _*).as("text"))
      val dupsAdv = docsAdv.where(col("doc_id") < 100)
        .select((col("doc_id") + nAdv).as("doc_id"), col("text"))
      val idxAdv = TextDedup.buildIndex(docsAdv.unionByName(dupsAdv),
        "doc_id", "text", n = 3, bits = 64).persist()
      val uncappedVolume = idxAdv.df
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .agg(sum(expr("df * (df - 1) div 2")).as("v")).head().getLong(0)
      var t0 = System.nanoTime()
      val nPairs = TextDedup.ngramJaccardDirect(idxAdv, 0.05).count()
      println(f"jaccard direct df-capped (hot 20%%) ${(System.nanoTime() - t0) / 1e9}%7.1f s" +
        f"  ($nPairs pairs out; uncapped candidate volume $uncappedVolume)")
      idxAdv.df.unpersist()
      spark.catalog.clearCache(); System.gc()
    }

    // Bucketed-state read pruning (VERDICT r09 item 1): the weekly
    // cadences' state READS prune to the batch's key buckets — measure
    // actual task input bytes for a span-df-shaped history read,
    // pruned vs full scan, as the lineage grows 1 -> 4 under a FIXED
    // batch. The full scan's bytes grow with the corpus; the pruned
    // read is bounded by hitBuckets x bucketBytes per slice (~
    // batchKeys/B of the state) and the JOIN RESULT is pinned equal.
    // Between rebases the lineage length is itself bounded, and a
    // rebase re-derives B as the corpus grows (StateLayout scaladoc) —
    // which is what keeps per-increment read IO batch-proportional at
    // 100 TB instead of a weekly full-corpus pass.
    {
      import pipeline.StateLayout
      import java.util.concurrent.atomic.AtomicLong
      val base = "/tmp/graft_stress_statelayout"
      val sliceRows = 400000L
      for (l <- 0 until 4)
        StateLayout.writeBucketed(
          spark.range(sliceRows).select(
            (col("id") * 4L + l).as("h"), // disjoint gram keys per slice
            (col("id") % 5 + 1).as("n_docs")),
          s"$base/s$l/art", "h", buckets = 512)
      // Fixed batch: 64 gram keys, half present in slice 0, half novel.
      val batchKeys = spark.range(64).select(
        when(col("id") % 2 === 0, col("id") * 64L)
          .otherwise(col("id") * 1000000000L + 7L).as("h"))
        .persist()
      batchKeys.count()
      val stateBytes = new AtomicLong(0L)
      val tapeListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            stateBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(tapeListener)
      def readBytes(df: => DataFrame): (Long, Long) = {
        org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000)
        stateBytes.set(0L)
        val matched = df.join(batchKeys, Seq("h")).count()
        org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000)
        (stateBytes.get, matched)
      }
      for (l <- 1 to 4) {
        val dirs = (0 until l).map(i => s"$base/s$i")
        val (bp, mp) = readBytes(
          StateLayout.readSlicesPruned(spark, dirs, "art", "h", batchKeys))
        val (bf, mf) = readBytes(StateLayout.readSlices(spark, dirs, "art"))
        require(mp == mf, s"pruned state read changed the join: $mp != $mf")
        println(f"state-read pruning, lineage $l    pruned ${bp / 1e6}%6.2f MB" +
          f"  full ${bf / 1e6}%6.2f MB  (join rows $mp, equal)")
      }
      // The REBASE step of the policy: consolidate the lineage into
      // one slice under a B scaled to the grown state (512 -> 2048 for
      // 4x the rows — the StateLayout sizing rule), and the pruned
      // read drops back to ~one batch's bucket span. THIS is what
      // keeps per-increment state reads flat at 100 TB: bounded
      // lineage between rebases, B re-derived at each rebase.
      StateLayout.writeBucketed(
        StateLayout.readSlices(spark, (0 until 4).map(i => s"$base/s$i"), "art")
          .groupBy(col("h")).agg(sum(col("n_docs")).as("n_docs")),
        s"$base/r/art", "h", buckets = 2048)
      val (br, mr) = readBytes(
        StateLayout.readSlicesPruned(spark, Seq(s"$base/r"), "art", "h", batchKeys))
      val (_, mrf) = readBytes(StateLayout.readSlices(spark, Seq(s"$base/r"), "art"))
      require(mr == mrf,
        s"post-rebase pruned read changed the join: $mr != $mrf")
      println(f"state-read pruning, post-rebase   pruned ${br / 1e6}%6.2f MB" +
        f"  (B 512 -> 2048 at consolidation; join rows $mr, equal)")
      spark.sparkContext.removeSparkListener(tapeListener)
      batchKeys.unpersist()
      spark.catalog.clearCache(); System.gc()
    }

    // Dedup-front state pruning (r10): the weekly LSH pairs read
    // STORED history band rows (the corpus is never re-banded) and
    // history index rows pruned to the candidate docs
    // (TextDedup.minhashLshPairsIncrementalPruned). The honest IO
    // bound is read fraction ~ min(1, probeKeys/B): this row measures
    // BOTH regimes against the full combined-scan form, with the pair
    // sets pinned equal in each — a 2000-doc weekly batch (~17k
    // distinct probe keys >> B, pruning degrades to the same full
    // scan, never more bytes) and a 16-doc trickle batch (~256 keys,
    // the pruned read is a sliver).
    {
      import pipeline.StateLayout
      import operators.TextDedup
      import java.util.concurrent.atomic.AtomicLong
      val base = "/tmp/graft_stress_lshstate"
      val sliceN = 50000L
      val B = 2048 // production sizing rule: B ~ slice bytes / target bucket bytes
      def sliceDocs(l: Int) = spark.range(sliceN).select(
        (col("id") + l * 10000000L).as("doc_id"),
        concat_ws(" ",
          (0 until 14).map(i =>
            concat(lit(s"w${i}_"), (col("id") + l * 10000000L))): _*).as("text"))
      for (l <- 0 until 3) {
        val idx = TextDedup.buildIndex(sliceDocs(l), "doc_id", "text",
          n = 3, bits = 32)
        StateLayout.writeBucketed(idx.df, s"$base/s$l/index_batch", "doc_id",
          buckets = B)
        val sig = TextDedup.minhashSignatures(idx, 32)
        graft.sources.Sinks.overwriteParquet(
          sig, s"$base/s$l/signatures_batch", numFiles = 2)
        StateLayout.writeBucketed(
          TextDedup.bandFrame(
            spark.read.parquet(s"$base/s$l/signatures_batch"), 32, 16),
          s"$base/s$l/bands_batch", "band", buckets = B)
      }
      def mkBatch(nDup: Long, nNovel: Long) = spark.range(nDup).select(
          (col("id") + 5000000000L).as("doc_id"),
          concat_ws(" ",
            (0 until 14).map(i => concat(lit(s"w${i}_"), col("id"))): _*)
            .as("text"))
        .unionByName(spark.range(nNovel).select(
          (col("id") + 6000000000L).as("doc_id"),
          concat_ws(" ",
            (0 until 14).map(i =>
              concat(lit(s"n${i}_"), col("id"))): _*).as("text")))
      val ioBytes = new AtomicLong(0L)
      val tape = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            ioBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(tape)
      def measured[A](body: => A): (Long, A) = {
        org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000)
        ioBytes.set(0L)
        val r = body
        org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000)
        (ioBytes.get, r)
      }
      def compare(label: String, batch: DataFrame, dirs: Seq[String]): Unit = {
        val newIdx = TextDedup.buildIndex(batch, "doc_id", "text",
          n = 3, bits = 32).persist()
        val newSig = TextDedup.minhashSignatures(newIdx, 32).persist()
        newSig.queryExecution.toRdd.count() // isolate state IO from synthesis
        val newBands = TextDedup.bandFrame(newSig, 32, 16)
        val (bp, prunedPairs) = measured {
          val (df, rel) = TextDedup.minhashLshPairsIncrementalPruned(
            TextDedup.indexFromFrame(newIdx.df, bits = 32), newBands,
            probe => StateLayout.readSlicesPruned(spark, dirs,
              "bands_batch", "band", probe),
            probe => StateLayout.readSlicesPruned(spark, dirs,
              "index_batch", "doc_id", probe),
            0.25)
          try df.select(col("doc_a"), col("doc_b")).collect()
            .map(x => (x.getLong(0), x.getLong(1))).toSet
          finally rel()
        }
        val (bf, fullPairs) = measured {
          val idxAll = TextDedup.indexFromFrame(
            StateLayout.readSlices(spark, dirs, "index_batch")
              .unionByName(newIdx.df), bits = 32)
          val sigAll = dirs.map(d =>
              spark.read.parquet(s"$d/signatures_batch"))
            .reduce(_ unionByName _).unionByName(newSig)
          TextDedup.minhashLshPairsIncremental(idxAll, sigAll,
              batch.select(col("doc_id")), 0.25, 32, 16)
            .select(col("doc_a"), col("doc_b")).collect()
            .map(x => (x.getLong(0), x.getLong(1))).toSet
        }
        require(prunedPairs == fullPairs,
          s"pruned LSH pairs diverged: ${prunedPairs.size} != ${fullPairs.size}")
        newIdx.unpersist(); newSig.unpersist()
        println(f"lsh-state pruning, $label%-22s pruned ${bp / 1e6}%7.2f MB" +
          f"  full ${bf / 1e6}%7.2f MB  (${prunedPairs.size} pairs, equal)")
      }
      val dirsAll = (0 until 3).map(i => s"$base/s$i")
      for (l <- 1 to 3)
        compare(s"weekly 2k, lineage $l", mkBatch(1000, 1000),
          (0 until l).map(i => s"$base/s$i"))
      compare("trickle 16, lineage 3", mkBatch(8, 8), dirsAll)

      // BM25 serving over the weekly postings state (q149's cadence):
      // a keyword query probes a handful of terms, the canonical
      // small-probe regime — serving bytes must be a sliver of the
      // composed postings state and the ranking equal to the
      // from-scratch corpus BM25.
      {
        import pipeline.Bm25State
        val bmBase = "/tmp/graft_stress_bm25state"
        def bmDocs(l: Int) = spark.range(sliceN).select(
          (col("id") + l * 10000000L).as("doc_id"),
          concat_ws(" ",
            (0 until 14).map(i =>
              concat(lit(s"w${i}_"), (col("id") + l * 10000000L))) :+
              when(pmod(col("id"), lit(20 + l)) === 0, lit("vector"))
                .otherwise(concat(lit("x_"), col("id"))) :+
              when(pmod(col("id"), lit(31 + l)) === 0, lit("filter"))
                .otherwise(concat(lit("y_"), col("id"))): _*).as("text"))
        Bm25State.writeInit(bmDocs(0), "doc_id", "text", s"$bmBase/s0")
        Bm25State.writeIncrement(bmDocs(1), "doc_id", "text",
          s"$bmBase/s0", s"$bmBase/s1")
        Bm25State.writeIncrement(bmDocs(2), "doc_id", "text",
          s"$bmBase/s1", s"$bmBase/s2")
        // Files-read walker (VERDICT r10 item 5): the serve-bytes
        // metric is footer-dominated at this SF and cannot rank
        // layouts; FILES READ ranks them at ANY SF — dir-level bucket
        // pruning is exactly "list fewer files", independent of
        // per-file overhead.
        def filesRead(df: DataFrame): Long = {
          import org.apache.spark.sql.execution._
          def walk(p: SparkPlan): Long = p match {
            case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: adaptive.QueryStageExec => walk(q.plan)
            // The serve path persists its pruned read — the real scan
            // hides behind the cache node's cachedPlan (metrics
            // populate when the action materializes the cache).
            case c: columnar.InMemoryTableScanExec =>
              walk(c.relation.cachedPlan)
            case s: FileSourceScanExec =>
              s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            case other =>
              other.children.map(walk).sum + other.subqueries.map(walk).sum
          }
          walk(df.queryExecution.executedPlan)
        }
        def parquetFilesUnder(paths: Seq[String]): Long = paths.map { p =>
          val root = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(root)) 0L
          else {
            val s = java.nio.file.Files.walk(root)
            try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
            finally s.close()
          }
        }.sum
        val servedDf = Bm25State.serve(spark, s"$bmBase/s2",
          Seq("vector", "filter"), topK = 20)
        val (bs, served) = measured {
          servedDf.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        }
        val prunedFiles = filesRead(servedDf)
        // TWO IO contrasts, because the layout wins twice and a single
        // "full scan" number conflates them (measured: the
        // bucketed-but-unpruned scan is ITSELF a sliver — writeBucketed
        // sorts by key within files, so parquet page-level min/max
        // skips non-matching pages under the pushed tok filter even
        // without bucket pruning): (a) the same layout WITHOUT the
        // bucket partition filter — isolates what dir-level pruning
        // adds (file opens, not bytes, at this SF); (b) a NAIVE
        // unsorted single-dir layout — what an engine without the
        // state layout actually pays for the same filtered read. All
        // columns a real serve consumes ride both (a count() would
        // column-prune to `tok` alone; review finding).
        val unprunedDf = StateLayout.readSlices(spark,
            (0 until 3).map(i => s"$bmBase/s$i"), "postings_batch")
          .where(col("tok").isin("vector", "filter"))
          .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
        val (bfull, _) = measured {
          unprunedDf.queryExecution.toRdd.count()
        }
        val unprunedFiles = filesRead(unprunedDf)
        graft.sources.Sinks.overwriteParquet(
          StateLayout.readSlices(spark,
            (0 until 3).map(i => s"$bmBase/s$i"), "postings_batch"),
          s"$bmBase/naive/postings", numFiles = 6)
        val naiveDf = spark.read.parquet(s"$bmBase/naive/postings")
          .where(col("tok").isin("vector", "filter"))
          .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
        val (bnaive, _) = measured {
          naiveDf.queryExecution.toRdd.count()
        }
        val naiveFiles = filesRead(naiveDf)
        val stateFiles = parquetFilesUnder(
          (0 until 3).map(i => s"$bmBase/s$i/postings_batch"))
        // Correctness pin (unmeasured — its input is in-memory
        // synthesis): serve == from-scratch corpus BM25.
        val scratch = operators.TextSearch.bm25(
            (0 until 3).map(bmDocs).reduce(_ unionByName _),
            "doc_id", "text", Seq("vector", "filter"), topK = 20)
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        require(served == scratch,
          "bm25 state serve diverged from the from-scratch ranking")
        println(f"bm25-state serve, lineage 3       pruned ${bs / 1e6}%7.2f MB" +
          f"  sorted-unpruned ${bfull / 1e6}%7.2f MB" +
          f"  naive-unsorted ${bnaive / 1e6}%7.2f MB" +
          f"  (top-${served.size}, equal to scratch)")
        // The files-read row is the one that RANKS (r10 item 5): the
        // pruned serve lists a bucket-fraction of the state's files;
        // the unpruned forms list every file and only page-skip or
        // byte-skim inside them — at any SF, and at 100x the file
        // counts scale with the layout, not the footer overhead that
        // dominates the byte metric here.
        println(f"bm25-state serve FILES READ       pruned $prunedFiles%4d" +
          f"  sorted-unpruned $unprunedFiles%4d (of $stateFiles state files)" +
          f"  naive-unsorted $naiveFiles%4d (of 6)")
        require(prunedFiles < unprunedFiles,
          "bucket pruning must list strictly fewer state files than the " +
            "unpruned scan of the same layout")
      }
      spark.sparkContext.removeSparkListener(tape)
      spark.catalog.clearCache(); System.gc()
    }

    // Delta weekly publish IO (VERDICT r10 item 1 done-criterion):
    // publish bytes WRITTEN per increment must stay flat (∝ batch +
    // changed shards) as the lineage grows, against a forced
    // full-re-publish contrast whose write cost tracks the corpus.
    // Pure-append weeks (unique docs, monotonic ids -> range sharding
    // lands each batch in its own new shards): fresh bytes = the
    // batch's shards; everything else rides as hard links (zero bytes
    // rewritten — nlink > 1). The churn regimes (a displaced survivor,
    // a re-surfacing sem peer) are DeltaPublishSpec's bit-equality
    // fixtures; this row prices the steady-state week.
    {
      import pipeline.CurationRun
      val base = "/tmp/graft_stress_deltapub"
      val root = java.nio.file.Paths.get(base)
      if (java.nio.file.Files.exists(root)) {
        val s = java.nio.file.Files.walk(root)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally s.close()
      }
      val span = 4096L
      def mkDocs(lo: Long, n: Long) = spark.range(n).select(
        (col("id") + lo).as("doc_id"),
        concat_ws(" ",
          (0 until 21).map(i =>
            concat(lit(s"u${i}v"), col("id") + lo, lit(s"x$i"))) :+
            lit("the"): _*).as("text"))
      val bm = spark.range(1).select(lit(999999999L).as("doc_id"),
        lit("zq1 zq2 zq3 zq4 zq5 zq6").as("text"))
      // (freshMB, carriedMB, seconds) of one increment's publish dirs,
      // measured immediately after the run (later increments raise a
      // carried file's nlink further; fresh-at-write is nlink == 1).
      def publishBytes(outDir: String): (Double, Double) = {
        var fresh = 0L; var carried = 0L
        for (art <- Seq("curated", "packed")) {
          val p = java.nio.file.Paths.get(s"$outDir/$art")
          if (java.nio.file.Files.exists(p)) {
            val s = java.nio.file.Files.list(p)
            try s.filter(_.getFileName.toString.endsWith(".parquet"))
              .forEach { f =>
                val n = java.nio.file.Files
                  .getAttribute(f, "unix:nlink").asInstanceOf[Number].intValue
                val sz = java.nio.file.Files.size(f)
                if (n > 1) carried += sz else fresh += sz
              }
            finally s.close()
          }
        }
        (fresh / 1e6, carried / 1e6)
      }
      def manifestSet(outDir: String): Set[String] =
        pipeline.PublishState.readPublished(spark, outDir, "manifest")
          .collect().map(_.toString).toSet
      def chain(tag: String, forceFull: Boolean,
          carrier: pipeline.PublishCarrier = pipeline.PublishCarrier.Posix)
          : Seq[(Double, Double, Double, CurationRun.Stats)] = {
        // 120k-doc init corpus: large enough that the full
        // re-publish's corpus-scale cost SEPARATES from the delta
        // tail's flat per-job floors in wall-time, not just bytes
        // (at 30k both were floor-bound ~7-8 s and the record could
        // not show the time crossover the IO numbers imply).
        CurationRun.runInit(mkDocs(0L, 120000L), bm, s"$base/$tag/out0",
          s"$base/$tag/s0", minQuality = 0.5, publishSpan = span,
          carrier = carrier)
        (1 to 3).map { l =>
          if (forceFull)
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
              s"$base/$tag/s${l - 1}/publish_meta.txt"))
          val t0 = System.nanoTime()
          val st = CurationRun.runIncremental(mkDocs(1000000L * l, 1500L), bm,
            s"$base/$tag/out$l", s"$base/$tag/s${l - 1}",
            s"$base/$tag/s$l", minQuality = 0.5, publishSpan = span,
            carrier = carrier)
          val dt = (System.nanoTime() - t0) / 1e9
          val (f, c) = publishBytes(s"$base/$tag/out$l")
          (f, c, dt, st)
        }
      }
      val delta = chain("delta", forceFull = false)
      val full = chain("full", forceFull = true)
      for (l <- 1 to 3)
        require(manifestSet(s"$base/delta/out$l") ==
            manifestSet(s"$base/full/out$l"),
          s"delta publish manifest diverged from full at increment $l")
      for (l <- 1 to 3) {
        val (df_, dc, dt, st) = delta(l - 1)
        val (ff, fc, ft, _) = full(l - 1)
        // The carry-observability HARD gate (VERDICT r11 item 2):
        // these increments are pure-append weeks under monotonic ids
        // (each batch's id range opens fresh shards), so the delta
        // must carry EVERY shard of the previous publish — the spec
        // pins the property once on a 4-shard fixture; this require
        // keeps it pinned at stress scale, visible in the recorded
        // stats of a normal (non-prof) run.
        val prevShards =
          (pipeline.PublishState.shardIdsOf(s"$base/delta/out${l - 1}/curated")
            ++ pipeline.PublishState.shardIdsOf(
              s"$base/delta/out${l - 1}/packed")).size.toLong
        require(st.nShardsOverlap == 0L,
          s"monotonic-id increments must not trip the range premise: $st")
        require(st.nShardsCarried == prevShards,
          s"pure-append increment $l must carry every previous shard " +
            s"($prevShards): $st")
        println(f"delta publish, increment $l       fresh $df_%7.2f MB" +
          f" + carried $dc%7.2f MB  $dt%6.1f s" +
          f"  | full re-publish $ff%7.2f MB (carried $fc%5.2f)  $ft%6.1f s" +
          f"  (manifests equal; shards changed ${st.nShardsChanged}%d" +
          f" carried ${st.nShardsCarried}%d)")
        // Machine-readable carry record (VERDICT r12 item 5): the
        // monotonic-id week's delta-tail time beside the full
        // re-publish of the same corpus — the premise-holds number
        // the q146 fixture (which trips the overlap tripwire by
        // design) cannot show.
        println(s"""{"record":"carry_monotonic","increment":$l,""" +
          f""""delta_s":$dt%.1f,"full_s":$ft%.1f,"fresh_mb":$df_%.2f,""" +
          f""""carried_mb":$dc%.2f,"shards_changed":${st.nShardsChanged}%d,""" +
          f""""shards_carried":${st.nShardsCarried}%d}""")
      }
      // Object-store-shaped carrier chain (VERDICT r12 item 1's
      // done-criterion): the SAME increments through the Hadoop-FS
      // copy carrier — bit-equal manifests, with the carry's physical
      // IO measured instead of claimed. On local file:// the copy is
      // a real byte rewrite, the portable lower bound an object store
      // pays without a server-side copy.
      {
        val hc = pipeline.PublishCarrier.hadoop(spark)
        val t0 = System.nanoTime()
        val hcChain = chain("hcopy", forceFull = false, carrier = hc)
        val hdt = (System.nanoTime() - t0) / 1e9
        for (l <- 1 to 3)
          require(manifestSet(s"$base/hcopy/out$l") ==
              manifestSet(s"$base/delta/out$l"),
            s"hadoop-copy carrier publish diverged from posix at $l")
        // publishBytes' nlink>1 split is meaningless here (copies
        // have nlink 1 — everything reads as "fresh"), so the split
        // is NOT printed for this chain: the carrier's own counters
        // are the carried volume, and fresh = total − carried.
        val (hf, hcarr, _, hst) = hcChain.last
        val totalLastMb = hf + hcarr
        require(hst.nShardsCarried == delta.last._4.nShardsCarried,
          s"carrier changed the carry accounting: $hst vs ${delta.last._4}")
        println(f"hadoop-copy carrier chain: ${hdt}%6.1f s, carried " +
          f"${hc.filesCarried}%d files / ${hc.bytesCarried / 1e6}%.2f MB " +
          f"physically copied (posix carrier: 0 MB, links); last " +
          f"increment total $totalLastMb%7.2f MB on disk; manifests " +
          "bit-equal to posix")
        println(s"""{"record":"carry_hadoop_io",""" +
          f""""files_carried":${hc.filesCarried}%d,""" +
          f""""mb_copied":${hc.bytesCarried / 1e6}%.2f,"chain_s":$hdt%.1f}""")
      }
      // Fingerprint-write volume (VERDICT r12 item 4): each increment
      // lands a batch-scale DELTA slice; the full table exists only at
      // the lineage head. Flat delta bytes as the lineage grows — vs
      // the r12 full-table rewrite, whose bytes tracked the corpus.
      {
        def dirBytes(p: String): Long = {
          val d = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(d)) -1L
          else {
            val s = java.nio.file.Files.walk(d)
            try s.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong(java.nio.file.Files.size(_)).sum
            finally s.close()
          }
        }
        val baseB = dirBytes(s"$base/delta/s0/publish_shards")
        val deltaB = (1 to 3).map(l =>
          dirBytes(s"$base/delta/s$l/publish_shards_delta"))
        require(deltaB.forall(b => b > 0 && b < baseB),
          s"fingerprint delta slices must stay below the base table: " +
            s"base=$baseB deltas=$deltaB")
        require((1 to 3).forall(l => dirBytes(
            s"$base/delta/s$l/publish_shards") == -1L),
          "an increment must not rewrite the composed fingerprint table")
        println(f"fingerprint write volume: base ${baseB / 1e3}%.1f KB " +
          s"(init only); per-increment delta slices " +
          deltaB.map(b => f"${b / 1e3}%.1f").mkString("[", ", ", "] KB") +
          " — flat, batch-scale, vs the r12 full-table rewrite weekly")
      }
      spark.catalog.clearCache(); System.gc()
    }

    // BPE trainer (VERDICT r04 item 1 done-criterion): vocab-8k run
    // over the 10x corpus. Corpus-scale work is the one word-frequency
    // aggregate; the merge loop is vocabulary-bounded. Driver regime =
    // the real cadence; a 50-round distributed-regime slice prices the
    // above-threshold per-round cost (constant-shape pass, merges ride
    // as one reference object).
    {
      import operators.BpeTrainer
      val wf = BpeTrainer.wordFrequencies(big, "text").persist()
      var t0 = System.nanoTime()
      val nWords = wf.count()
      println(f"bpe word-frequency aggregate ${(System.nanoTime() - t0) / 1e9}%7.1f s ($nWords distinct words)")
      t0 = System.nanoTime()
      val words = wf.select(col("token"), col("freq").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val merges = BpeTrainer.trainInMemory(words, maxMerges = 8000, minCount = 2L)
      println(f"bpe driver regime, 8k target ${(System.nanoTime() - t0) / 1e9}%7.1f s (${merges.size} merges learned)")
      t0 = System.nanoTime()
      val rounds = 50
      BpeTrainer.trainDistributed(wf, maxMerges = rounds, minCount = 2L)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"bpe distributed regime, $rounds rounds $dt%7.1f s (${dt / rounds}%.2f s/round)")
      wf.unpersist()

      // The replica corpus tops out at ~40 distinct words (the loop
      // exhausts at ~106 merges — honest but tiny). A synthetic 200k
      // hash-derived vocabulary (8 hex chars each, so a rich shared
      // pair structure) prices the vocab-8k driver-regime loop itself.
      val synWf = spark.range(200000).select(
        substring(md5(col("id").cast("string")), 1, 8).as("token"),
        (pmod(hash(col("id")), lit(1000)) + lit(1)).cast("long").as("freq"))
        .groupBy("token").agg(max("freq").as("freq")) // md5-prefix dups collapse
      val synWords = synWf.collect().map(r => (r.getString(0), r.getLong(1)))
      t0 = System.nanoTime()
      val synMerges = BpeTrainer.trainInMemory(synWords, maxMerges = 8000, minCount = 2L)
      println(f"bpe driver 8k merges, 200k-word synthetic vocab ${(System.nanoTime() - t0) / 1e9}%7.1f s (${synMerges.size} merges)")
    }

    // Oversampled-init parameter wall (VERDICT r04 item 3): k=4096,
    // dim=512 -> the greedy farthest-first reduce is ~1.4e11 flops
    // (k rounds x 8k candidates x one dim-512 dot each). Serial that
    // is minutes of driver time; the parallel-chunk update must keep
    // it in seconds. Data-scale work is unchanged (one bounded sample
    // collect), so only the reduce is timed.
    {
      val dim = 512
      val vecs = spark.range(50000).select(
        col("id").as("vec_id"),
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(dim - 1)),
          d => (pmod(hash(col("id"), d), lit(997)) / lit(499.0) - lit(1.0))
            .cast("float")).as("embedding"))
      vecs.write.mode("overwrite").parquet("/tmp/graft_stress_vecs512")
      val corpus = spark.read.parquet("/tmp/graft_stress_vecs512")
      corpus.count() // warm the scan; the sample collect is part of the row
      val t0 = System.nanoTime()
      val init = operators.VectorSim.kmeansInitOversampled(corpus, k = 4096)
      println(f"oversampled init k=4096 d=512 ${(System.nanoTime() - t0) / 1e9}%7.1f s" +
        s" (${init.length} seeds)")

      // Hard-negative mining at the same scale: 100 broadcast queries
      // against the 50k-vector corpus (one corpus pass, bounded top-k
      // aggregate — no shuffle of corpus rows, no sort).
      val cen = operators.VectorSim.kmeansCentroidsFrom(
        corpus, init.take(64).toSeq, iters = 1)
      time("hard negatives 100q x 50k d=512") {
        operators.VectorSim.hardNegatives(
          corpus.where(col("vec_id") < 100), corpus, cen, k = 10)
      }
    }

    // Round-6-continuation rows: the new window- and scan-shaped ops
    // at the 10x dup-dense corpus. Winnowing must track gram count
    // (one sliding window per doc); the fused quality scan must stay
    // scan-bound (six kernels, one pass); soft dedup rides the same
    // LSH+CC chain as the q53 row above plus two cheap rollups.
    time("winnowing fingerprints") {
      operators.TextDedup.winnowFingerprints(big, "doc_id", "text", 4, 4)
    }
    time("fused quality signals") {
      operators.TextAnalysis.qualitySignals(big, "doc_id", "text")
    }
    time("c4 line filter (synth lines)") {
      import graft.functions.TextFunctions.tokens
      val toks = tokens(col("text"))
      val nl = greatest(floor((size(toks) + lit(7)) / lit(8)).cast("int"), lit(1))
      val raw = big.select(col("doc_id"),
        array_join(transform(sequence(lit(0), nl - 1), i =>
          concat(array_join(slice(toks, i * 8 + 1, lit(8)), " "),
            when(substring(md5(concat(col("doc_id").cast("string"), lit("#ln"),
              i.cast("string"))), 1, 1)
              .isin("0", "1", "2", "3", "4", "5", "6", "7"), ".")
              .otherwise(""))), "\n").as("text"))
      operators.TextAnalysis.c4LineFilter(raw, "doc_id", "text")
    }
    spark.stop()
  }
}
