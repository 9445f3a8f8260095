package graft

import graft.ext.{Dedup, Similarity}
import graft.Tables.t
import org.apache.spark.sql.functions._

/** Specs for the approximate/randomized operators that have no SQL oracle
  * (driver records rows-only): MinHash-LSH recall, SimHash candidates,
  * LSH-ANN vs brute force, approx_count_distinct error bound. Run at
  * sf0.001 (500 docs / 500 vecs) for speed.
  */
class ExtensionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = t(spark, dir, "documents")
  private lazy val embs = t(spark, dir, "embeddings")

  test("minhash-lsh: full recall of strong near-dup pairs, strong pruning") {
    val exact = Dedup.jaccardPairs(docs, threshNum = 5) // jaccard >= 0.5
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain strong near-dups")
    val missed = exact -- cand
    assert(missed.isEmpty, s"LSH missed strong pairs: $missed")
    // candidate set must be ~linear, not O(n²)=124750
    assert(cand.size < 5000, s"candidate explosion: ${cand.size}")
  }

  test("simhash: chunk-collision candidates contain the top jaccard pairs") {
    val strong = Dedup.jaccardPairs(docs, threshNum = 8) // jaccard >= 0.8
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.simhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = strong -- cand
    assert(missed.isEmpty, s"simhash missed near-identical pairs: $missed")
  }

  test("ann-lsh: multi-probe recall >= 0.5 of brute-force top-10, ranked like brute force") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = t(spark, d, "embeddings")
      val brute10 = Similarity.topK(e, 0L, 10).collect().map(_.getLong(0))
      val ann = Similarity.annTopK(e, 0L, 10).collect().map(_.getLong(0))
      val recall = ann.toSet.intersect(brute10.toSet).size / 10.0
      assert(recall >= 0.5, s"$d: ANN recall@10 = $recall (< 0.5): ann=${ann.toSeq}")
      // ANN hits must preserve the brute-force relative order of its members
      val pos = Similarity.topK(e, 0L, 50).collect().map(_.getLong(0))
        .zipWithIndex.toMap
      val annPos = ann.flatMap(pos.get)
      assert(annPos.sameElements(annPos.sorted),
        s"$d: ANN results out of brute-force order")
    }
  }

  test("count-min estimates satisfy the CM guarantee on every probed key") {
    // the oracled query carries within_bound as a column; this pins that
    // the guarantee actually HOLDS on testdata (a data-value column of
    // `false` would still hash-match an equally-wrong oracle)
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = graft.SparkEntry.queries("g26_countmin_bound")(spark, d).collect()
      assert(rows.length == 10, s"$d: expected 10 probed keys")
      rows.foreach { r =>
        val (t, e, ok) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
        assert(e >= t, s"$d: CM under-estimated key ${r.getLong(0)}: $e < $t")
        assert(ok, s"$d: key ${r.getLong(0)} exceeded the 3N/w bound: est $e, true $t")
      }
    }
  }

  test("approx_percentile within rank-error bound of the exact percentile") {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    val n = li.count()
    val approx = graft.operators.Aggregations.approxPercentile(spark, dir)
      .collect()(0)
    val sorted = li.select($"l_extendedprice").orderBy($"l_extendedprice")
      .as[Double].collect()
    // GK accuracy 10000 ⇒ rank error <= n/10000 (+1 slack for discreteness)
    val slack = math.max(n / 10000, 1L).toInt + 1
    for ((p, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val target = math.ceil(p * n).toInt - 1
      val lo = sorted(math.max(target - slack, 0))
      val hi = sorted(math.min(target + slack, sorted.length - 1))
      val a = approx.getDouble(i)
      assert(a >= lo && a <= hi, s"p$p: $a outside [$lo, $hi]")
    }
  }

  test("approx_count_distinct within configured 2% rsd (5 sigma)") {
    val exact = t(spark, dir, "lineitem").select(countDistinct(col("l_partkey")))
      .collect().head.getLong(0)
    val approx = graft.operators.Aggregations.approxDistinct(spark, dir)
      .collect().head.getLong(0)
    val rel = math.abs(approx.toDouble - exact) / exact
    assert(rel < 0.1, s"approx=$approx exact=$exact rel=$rel")
  }

  test("ivf index lifecycle: persisted centroid/assignment tables answer probes like a fresh build") {
    // the "train once offline, probe many" serving path: centroids +
    // assignments round-trip through parquet and the probe side reads the
    // PERSISTED index — no re-assignment work per query
    val fresh = Similarity.ivfTopK(embs, 0L, 10).collect()
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val cents = Similarity.ivfCentroids(embs, 16)
    Similarity.ivfAssign(embs, cents).write.parquet(idxDir + "/assigned")
    cents.write.parquet(idxDir + "/centroids")

    val assigned = spark.read.parquet(idxDir + "/assigned")
    val centroids = spark.read.parquet(idxDir + "/centroids")
    val q = embs.filter(col("vec_id") === 0L).select(col("embedding").as("q"))
    val probed = centroids.crossJoin(broadcast(q))
      .withColumn("sim_e9", Similarity.cosineE9(Similarity.cosine("centroid", "q")))
      .orderBy(col("sim_e9").desc, col("centroid_id").asc).limit(6)
      .select(col("centroid_id"))
    val viaIndex = assigned.join(broadcast(probed), Seq("centroid_id"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        Similarity.cosineE9(Similarity.cosine("embedding", "q")).as("cosine_e9"))
      .orderBy(col("cosine_e9").desc, col("vec_id").asc).limit(10)
      .collect()
    assert(viaIndex.map(_.toSeq).toSeq === fresh.map(_.toSeq).toSeq)
  }

  test("ivf ann: probed-list results are a correctly-ranked subset with real recall") {
    val brute = Similarity.topK(embs, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(embs, 0L, 10).collect().map(_.getLong(0))
    assert(ivf.nonEmpty)
    assert(ivf.distinct.length === ivf.length)
    // nprobe=4 of nlist=16 lists ⇒ recall is partial but must be nonzero
    // on 500 vectors (sanity that probing actually finds neighbors)
    assert(ivf.toSet.intersect(brute).nonEmpty,
      s"IVF found none of the true top-10: ${ivf.toSeq}")
  }

  test("batch ann join answers every panel query exactly like the single-query probe") {
    // ivfAnnJoin is ivfTopK vectorized over the query panel: same derived
    // index, same probe width, same ranking — so for any panel member the
    // batch rows must equal the one-query path verbatim
    val joined = Similarity.ivfAnnJoin(embs, 20L, 5).collect()
    val panel = joined.map(_.getLong(0)).distinct
    assert(panel.length > 1, s"panel too small: ${panel.toSeq}")
    for (qid <- Seq(panel.head, panel.last)) {
      val batch = joined.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      val single = Similarity.ivfTopK(embs, qid, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(batch === single, s"batch vs single mismatch for query $qid")
    }
  }

  test("k-means training reaches a fixed point: one MORE Lloyd round cannot change the converged table") {
    // the early stop's oracle-neutrality argument made concrete: integer
    // Lloyd is a deterministic map on the centroid table, so the trained
    // result must be a true fixed point of that map. Crucially the extra
    // round here is applied OUTSIDE ivfTrainedCentroids (via the HOF
    // assignment twin + the same recenter aggregation), so a falsely-firing
    // internal convergence predicate cannot mask itself — comparing
    // tbl(25) to tbl(26) would trivially pass if both early-stopped at the
    // same broken round
    import org.apache.spark.sql.functions.{posexplode, sum => fsum, count => fcount, lit, expr, col}
    def snap(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq.sortBy(_._1)
    val trained = Similarity.ivfTrainedCentroids(embs, 16, 25)
    val base = embs.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))").as("ve6"))
    val oneMore = Similarity.assignByDotHof(base, trained)
      .select(col("centroid_id"), posexplode(col("ve6")).as(Seq("d", "v")))
      .groupBy(col("centroid_id"), col("d"))
      .agg(fsum(col("v")).as("s"), fcount(lit(1)).as("cnt"))
      .withColumn("m", expr("(s - pmod(s, cnt)) div cnt"))
      .groupBy(col("centroid_id"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), p -> p.m)").as("ce6"))
    assert(snap(trained) === snap(oneMore),
      "training had not converged by 25 rounds OR the trained table is not a Lloyd fixed point")
  }

  test("k-means-trained ivf: recall@10 over 20 queries meets the stride-init floor") {
    val queries = (0L until 20L)
    // train once (the production posture ivfTrainedTopK's centroids
    // param exists for) and compute each query's brute-force truth once;
    // ivfTrainedCentroids returns it already localCheckpoint'd
    val cent = Similarity.ivfTrainedCentroids(embs)
    val per = queries.map { q =>
      val brute = Similarity.topK(embs, q, 10).collect().map(_.getLong(0)).toSet
      val s = Similarity.ivfTopK(embs, q, 10).collect().map(_.getLong(0)).toSet
        .intersect(brute).size / 10.0
      val tr = Similarity.ivfTrainedTopK(embs, q, 10, centroids = Some(cent))
        .collect().map(_.getLong(0)).toSet.intersect(brute).size / 10.0
      (s, tr)
    }
    val stride = per.map(_._1).sum / queries.size
    val trained = per.map(_._2).sum / queries.size
    info(f"recall@10 stride=$stride%.2f trained=$trained%.2f")
    // the trained quantizer must BEAT the stride init at equal nprobe
    // (3 Lloyd rounds measure 0.695-0.75 vs stride's 0.64-0.70 across
    // the SFs — PERF.md §ANN), with a floor well above
    // the LSH path's
    assert(trained >= 0.65, f"trained IVF recall $trained%.2f < 0.65")
    // small slack against top-10 list-boundary churn across SFs (the
    // measured gap is 0.05-0.10; a strict >= flakes on ties at the k
    // boundary even when training is healthy)
    assert(trained >= stride - 0.02,
      f"training degraded recall: $trained%.2f vs stride $stride%.2f")
  }

  test("trained ivf: precomputed-index path returns the identical top-k") {
    // ivfTrainedAssign is the serve-time index handle (assign once, query
    // many — the ScaleBench ann-mode posture); it must be a pure
    // factoring-out of the per-query assignment, never a semantic fork
    val cent = Similarity.ivfTrainedCentroids(embs)
    val idx = Similarity.ivfTrainedAssign(embs, cent).localCheckpoint()
    (0L until 5L).foreach { q =>
      val perQuery = Similarity.ivfTrainedTopK(embs, q, 10,
        centroids = Some(cent)).collect().toSeq
      val preAssigned = Similarity.ivfTrainedTopK(embs, q, 10,
        centroids = Some(cent), assigned = Some(idx)).collect().toSeq
      assert(perQuery === preAssigned,
        s"query $q: precomputed-index result diverged from the per-query path")
    }
  }

  test("multi-probe trained ivf: per-query recall never degrades vs the base probe set") {
    // Widening the probe set can only grow the candidate pool, and the
    // re-rank inside it is the EXACT cosine — so per-query recall is
    // monotone in the probe set (a true top-k member displaced from the
    // widened pool's top-k would need k higher-cosine items, which would
    // contradict its membership in the truth set). The assertion is
    // therefore pointwise and deterministic, not a flaky average.
    // Measured averages (PERF.md §ANN): 6+2 neighbor
    // probes lift 0.75→0.80 / 0.695→0.77 / 0.70→0.735 across the SFs;
    // plain nprobe=8 matches-or-beats it at the same scan fraction, so
    // the shipped default stays query-dot-ranked lists only.
    val cent = Similarity.ivfTrainedCentroids(embs)
    (0L until 10L).foreach { q =>
      val brute = Similarity.topK(embs, q, 10).collect()
        .map(_.getLong(0)).toSet
      val base = Similarity.ivfTrainedTopK(embs, q, 10,
        centroids = Some(cent)).collect().map(_.getLong(0)).toSet
      val mp = Similarity.ivfTrainedTopK(embs, q, 10, neighborProbes = 2,
        centroids = Some(cent)).collect().map(_.getLong(0)).toSet
      assert(mp.intersect(brute).size >= base.intersect(brute).size,
        s"query $q: multi-probe recall dropped below the base probe set")
    }
  }

  test("pq ann: handles ≡ inline, codes well-formed, recall@10 meets the floor") {
    val d = "/root/testdata/sf0.01"
    val e = t(spark, d, "embeddings")
    // train/encode once — the production posture (pqEncode IS the index)
    val cb = Similarity.pqCodebooks(e)
    val codes = Similarity.pqEncode(e, cb).localCheckpoint()
    // every vector gets pqM codes, each inside [0, pqKsub)
    val bad = codes.filter(expr(
      s"""size(codes) != ${Similarity.pqM} OR exists(codes,
         |  c -> c IS NULL OR c < 0 OR c >= ${Similarity.pqKsub})""".stripMargin))
      .count()
    assert(bad === 0, s"$bad vectors with malformed code words")
    // the precomputed-handle path must be a pure factoring of the inline
    // path, never a semantic fork
    val inline = Similarity.pqTopK(e, 0L, 10).collect().toSeq
    val handle = Similarity.pqTopK(e, 0L, 10,
      codebooks = Some(cb), codes = Some(codes)).collect().toSeq
    assert(inline === handle,
      "precomputed codebook/codes result diverged from the inline path")
    // recall floor at the shipped geometry (PERF.md §ANN: 0.73-0.90
    // across refine 4-8 at sf0.1; sf0.01 similar — floor set with margin
    // against top-10 boundary churn)
    val rec = (0L until 20L).map { q =>
      val brute = Similarity.topK(e, q, 10).collect().map(_.getLong(0)).toSet
      Similarity.pqTopK(e, q, 10, codebooks = Some(cb), codes = Some(codes))
        .collect().map(_.getLong(0)).toSet.intersect(brute).size / 10.0
    }.sum / 20
    info(f"pq recall@10 = $rec%.2f")
    assert(rec >= 0.6, f"PQ-ADC recall@10 $rec%.2f < 0.6")
  }

  test("ivfpq: composed index ⊆ PQ candidates per query, handles ≡ inline, recall floor") {
    val d = "/root/testdata/sf0.01"
    val e = t(spark, d, "embeddings")
    // all four train-once index artifacts, built once (production posture)
    val cent = Similarity.ivfTrainedCentroids(e)
    val assigned = Similarity.ivfTrainedAssign(e, cent).localCheckpoint()
    val cb = Similarity.pqCodebooks(e)
    val codes = Similarity.pqEncode(e, cb).localCheckpoint()
    def run(q: Long) = Similarity.ivfPqTopK(e, q, 10,
      centroids = Some(cent), assigned = Some(assigned),
      codebooks = Some(cb), codes = Some(codes))
    // handle path is a pure factoring of the inline path
    assert(Similarity.ivfPqTopK(e, 0L, 10).collect().toSeq ===
      run(0L).collect().toSeq,
      "precomputed-handle ivfpq diverged from the inline path")
    // list restriction can only REMOVE candidates: the composed result's
    // ids must rank at least as low (cosine) as PQ's full-scan result
    // would — cheap sanity: every returned id is within the probed lists
    val probedOk = run(3L)
      .join(assigned.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .count()
    assert(probedOk === 10L, "composed result lost rows through the index joins")
    val rec = (0L until 20L).map { q =>
      val brute = Similarity.topK(e, q, 10).collect().map(_.getLong(0)).toSet
      run(q).collect().map(_.getLong(0)).toSet.intersect(brute).size / 10.0
    }.sum / 20
    info(f"ivfpq recall@10 = $rec%.2f")
    // the probe prunes ~5/8 of the corpus, so the composed floor sits
    // below plain PQ's (0.95 here) — the IVF probe is the recall ceiling
    assert(rec >= 0.5, f"IVF×PQ recall@10 $rec%.2f < 0.5")
    // the BATCH join must agree with the per-query form member-for-member:
    // same index handles, same probe/ADC/re-rank rules, only the
    // execution shape differs (one job, per-query windows)
    val batch = Similarity.ivfPqAnnJoin(e, 20L, 5,
      centroids = Some(cent), assigned = Some(assigned),
      codebooks = Some(cb), codes = Some(codes))
      .select(col("query_id"), col("rk"), col("vec_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    for (q <- Seq(0L, 20L, 40L)) {
      val single = Similarity.ivfPqTopK(e, q, 5,
        centroids = Some(cent), assigned = Some(assigned),
        codebooks = Some(cb), codes = Some(codes))
        .collect().map(_.getLong(0)).toSeq
      assert(batch(q) === single,
        s"batch ivfpq join diverged from the per-query form for query $q")
    }
  }

  test("contamination check finds real planted overlap (never a vacuous empty pass)") {
    val hits = graft.SparkEntry.queries("t_contamination")(spark, dir)
    assert(hits.count() > 0, "eval/corpus split no longer crosses any planted dup pair")
  }

  test("repetition stats: planted boilerplate scores 1.0, distinct text 0.0") {
    import spark.implicits._
    val planted = Seq(
      (0L, "spam spam spam spam"),     // all dup tokens, top bigram = all
      (1L, "alpha beta gamma delta")   // fully distinct
    ).toDF("doc_id", "text")
    val r = graft.ext.TextAnalysis.repetitionStats(planted)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("dup_tok_frac") === 1.0)
    assert(r(0).getAs[Double]("top_bigram_frac") === 1.0)
    assert(r(0).getAs[Long]("top_bigram_n") === 3L)
    assert(r(1).getAs[Double]("dup_tok_frac") === 0.0)
    assert(r(1).getAs[Long]("top_bigram_n") === 1L)
  }

  test("rolling-hash fingerprint: deterministic, order-sensitive") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("id", "text")
    val got = df.select($"id", TextAnalysis.rollingHash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === got(2L))   // same tokens, same order → same hash
    assert(got(1L) !== got(3L))   // order matters (rolling, not bag-of-words)
  }

  test("int8 quantization: max dequant error bounded by half a grid step") {
    val r = graft.SparkEntry.queries("sim_quantize_error")(spark, dir)
    import spark.implicits._
    // max_err <= scale/2 element-wise ⇒ e9 units: max_err_e9 <= scale_e9/2 + 1
    assert(r.filter($"max_err_e9" > $"scale_e9" / 2 + 1).count() === 0)
    assert(r.count() === 500)
  }

  test("cosine fold matches hand-computed value") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f, 2.0f)), (2L, Array(2.0f, 4.0f, 4.0f)),
                 (3L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.topK(df, 1L, 2).collect()
    assert(got.head.getLong(0) === 2L)
    assert(got.head.getLong(1) === 1000000000L) // cosine 1.0 in nano-units
    assert(got(1).getLong(0) === 3L)            // cosine -1/3
    assert(got(1).getLong(1) === -333333333L)
  }

  test("mixture sampling hits the target token recipe with a whole binding language") {
    import spark.implicits._
    val mixed = graft.ext.TextAnalysis.qs.find(_.name == "t_mixture_sample").get
      .fn(spark, dir).cache()
    try {
      val perLang = mixed.groupBy($"lang")
        .agg(sum($"n_tok").as("kept"), max($"tau").as("tau"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // exactly one binding language is kept whole (tau saturated at 1e6)
      assert(perLang.values.count(_._2 == 1000000L) === 1)
      // achieved token shares track the 40/20/15/15/10 recipe; hash-bucket
      // granularity and finite corpus allow a few points of drift
      val total = perLang.values.map(_._1).sum.toDouble
      val target = Map("en" -> 0.40, "zh" -> 0.20, "de" -> 0.15,
        "fr" -> 0.15, "es" -> 0.10)
      target.foreach { case (l, w) =>
        val got = perLang(l)._1 / total
        assert(math.abs(got - w) < 0.05, s"$l share $got vs target $w")
      }
      // deterministic: a second evaluation admits the identical doc set
      val again = graft.ext.TextAnalysis.qs.find(_.name == "t_mixture_sample").get
        .fn(spark, dir)
      assert(mixed.select($"doc_id").except(again.select($"doc_id")).count() === 0)
      assert(again.select($"doc_id").except(mixed.select($"doc_id")).count() === 0)
    } finally mixed.unpersist()
  }

  test("mixture interleave: weight-proportional schedule with no monolingual blocks") {
    val il = graft.ext.TextAnalysis.qs.find(_.name == "t_mixture_interleave").get
      .fn(spark, dir).collect()
    val langs = il.map(_.getString(0))
    // the whole point of the key schedule: a training loader never sees a
    // long single-language block (a naive lang-ordered concat would be
    // hundreds long here; the tail where other langs are exhausted is the
    // only place short runs appear)
    var maxRun = 1; var run = 1
    for (i <- 1 until langs.length) {
      if (langs(i) == langs(i - 1)) { run += 1; maxRun = math.max(maxRun, run) }
      else run = 1
    }
    assert(maxRun <= 16, s"monolingual run of $maxRun in the interleave")
    // weight proportions hold in the steady-state prefix: en (w=400,
    // key step 3) outnumbers es (w=100, step 12) by roughly 4x
    val head = langs.take(200)
    val en = head.count(_ == "en").toDouble
    val es = math.max(1, head.count(_ == "es")).toDouble
    assert(en / es >= 2.0 && en / es <= 8.0, s"en/es ratio ${en / es}")
  }

  test("two-phase budget fill equals the full-window form bit-for-bit") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val nTok = size(TextAnalysis.tokens($"text"))
    val scored = docs.select($"doc_id", $"lang",
      nTok.cast("long").as("n_tok"),
      floor(TextAnalysis.hits($"text", TextAnalysis.enPat) * lit(1e6) / nTok)
        .cast("long").as("score_e6")).cache()
    try {
      Seq(500L, 2000L, 1000000000L).foreach { budget =>
        val full = TextAnalysis.budgetFill(scored, budget)
        val two = TextAnalysis.budgetFillTwoPhase(scored, budget)
        assert(rows(full) === rows(two), s"budget $budget diverged")
      }
      // the histogram cut really prunes: at a small budget the survivor
      // set the exact window touches is a fraction of the corpus, and
      // per lang its token mass still covers the budget (the invariant
      // the loud-fail guards)
      val total = scored.count()
      val surv = TextAnalysis.budgetSurvivors(scored, 500L, 2L).cache()
      try {
        assert(surv.count() < total / 2,
          s"two-phase fill kept ${surv.count()} of $total — cut did not prune")
        val masses = surv.groupBy($"lang").agg(sum($"n_tok").as("m"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        masses.foreach { case (l, m) => assert(m >= 500L, s"$l survivor mass $m") }
      } finally surv.unpersist()
    } finally scored.unpersist()
  }

  test("exact jaccard agrees with a hand-computed pair") {
    import spark.implicits._
    // doc 1: tokens a..f → shingles {a b c d e, b c d e f}
    // doc 2: tokens a..e → shingles {a b c d e}; shared=1, union=2, jac=0.5
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, k = 5, threshNum = 3).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      === ((1L, 2L, 1L, 2L, 0.5)))
  }

  test("hll sketch lifecycle: parquet round-trip, merge == direct build, incremental union") {
    // the g27 contract made concrete: the sketch column survives a
    // parquet round-trip, register-max merging of disjoint shards yields
    // EXACTLY the direct-build estimate (same hash, max per register),
    // and a late-arriving shard unions in without rebuilding the others —
    // the incremental-distinct lifecycle a 100 TB caller runs daily.
    val li = t(spark, dir, "lineitem")
    def estOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
        .head.getLong(0)
    val shards = li.groupBy((col("l_orderkey") % 8).as("shard"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
    val skDir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    shards.write.parquet(skDir + "/shards")
    val back = spark.read.parquet(skDir + "/shards")
    val direct = li.agg(
      hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("e"))
      .head.getLong(0)
    assert(estOf(shards) === direct,
      "shard-merged estimate != direct build — merge is not register-max")
    assert(estOf(back) === direct, "estimate drifted through parquet")
    // incremental: merge 7 persisted shards with one fresh late shard
    val seven = back.filter(col("shard") =!= 3)
    val late = li.filter(col("l_orderkey") % 8 === 3)
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
    assert(estOf(seven.select("sk").unionByName(late)) === direct)
    // the accuracy contract the oracled bound row rides on
    val exact = li.agg(countDistinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(direct - exact).toDouble <= exact * 0.06)
  }

  test("kll sketch lifecycle: parquet round-trip, lossless merge, rank bound") {
    // quantile analog of the hll test — with a weaker equality claim,
    // deliberately: KLL compaction is randomized (unlike HLL's
    // register-max), so two independent builds/merges may retain
    // different samples. The pinned contract is therefore (a) the stream
    // length is EXACTLY preserved through shard/merge/parquet (counting
    // is not sampled), and (b) quantiles read from BOTH the in-memory
    // merge and the parquet-round-tripped merge obey the rank bound
    // against exact counting. Sketches are built once (localCheckpoint)
    // so both merge paths consume identical shard bytes.
    import graft.functions.SketchFunctions._
    val li = t(spark, dir, "lineitem")
    val n = li.count()
    val shards = li.groupBy((col("l_orderkey") % 8).as("shard"))
      .agg(kllSketchAgg(col("l_quantity")).as("sk"))
      .localCheckpoint()
    val skDir = java.nio.file.Files.createTempDirectory("graft_kll").toString
    shards.write.parquet(skDir + "/shards")
    val back = spark.read.parquet(skDir + "/shards")
    def merged(df: org.apache.spark.sql.DataFrame) =
      df.agg(kllMergeAgg(col("sk")).as("sk"))
        .select(kllN(col("sk")).as("n"),
          kllQuantile(col("sk"), 0.5).as("p50"),
          kllQuantile(col("sk"), 0.9).as("p90"))
        .head
    for ((m, src) <- Seq((merged(shards), "in-memory"), (merged(back), "parquet"))) {
      assert(m.getLong(0) === n, s"$src merge lost stream length")
      // rank bound vs exact counting (eps = 0.03, the g29 contract)
      for ((q, v) <- Seq((0.5, m.getDouble(1)), (0.9, m.getDouble(2)))) {
        val lt = li.filter(col("l_quantity") < v).count()
        val le = li.filter(col("l_quantity") <= v).count()
        assert(lt < (q + 0.03) * n && le >= (q - 0.03) * n,
          s"$src q=$q returned $v with rank interval [$lt, $le] of $n")
      }
    }
  }

  test("theta sketch lifecycle: exact below 4096, set algebra, parquet round-trip") {
    // sf0.001 cardinalities sit below theta's 4096-retained-hash
    // threshold, so every estimate here must be EXACT — the equalities
    // are strict, not bounded. Verifies the full persisted path: shard
    // build → parquet → union → intersect/aNotB against exact set math.
    import graft.functions.SketchFunctions._
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), (col("l_orderkey") % 2).as("corpus"),
        (col("l_orderkey") % 8).as("shard"))
    val skDir = java.nio.file.Files.createTempDirectory("graft_theta").toString
    li.groupBy(col("corpus"), col("shard"))
      .agg(thetaSketchAgg(col("l_partkey")).as("sk"))
      .write.parquet(skDir + "/shards")
    val sk = spark.read.parquet(skDir + "/shards")
      .groupBy(col("corpus")).agg(thetaUnionAgg(col("sk")).as("sk"))
    val row = sk.filter(col("corpus") === 0).select(col("sk").as("ska"))
      .crossJoin(sk.filter(col("corpus") === 1).select(col("sk").as("skb")))
      .select(
        round(thetaEstimate(col("ska"))).cast("long").as("a"),
        round(thetaEstimate(col("skb"))).cast("long").as("b"),
        round(thetaEstimate(thetaIntersect(col("ska"), col("skb"))))
          .cast("long").as("both"),
        round(thetaEstimate(thetaANotB(col("ska"), col("skb"))))
          .cast("long").as("onlyA"))
      .head
    val flags = li.groupBy(col("l_partkey")).agg(
      max(when(col("corpus") === 0, 1).otherwise(0)).as("in_a"),
      max(when(col("corpus") === 1, 1).otherwise(0)).as("in_b"))
    val exactA = flags.filter(col("in_a") === 1).count()
    val exactB = flags.filter(col("in_b") === 1).count()
    val exactBoth = flags.filter(col("in_a") === 1 && col("in_b") === 1).count()
    val exactOnlyA = flags.filter(col("in_a") === 1 && col("in_b") === 0).count()
    assert(exactA < 4096, "fixture grew past theta exact mode — revisit asserts")
    assert(row.getLong(0) === exactA)
    assert(row.getLong(1) === exactB)
    assert(row.getLong(2) === exactBoth)
    assert(row.getLong(3) === exactOnlyA)
  }

  test("theta ESTIMATION mode: parquet round-trip is byte-stable, shard-merge tracks direct") {
    // The exact-mode test above can't see estimation-regime behavior:
    // push 30k distinct keys (≫ 4096 retained hashes) through the same
    // persisted path. Pins: (1) sketch BYTES survive a parquet
    // round-trip unchanged — re-read estimates are the written
    // estimates; (2) the union of 8 shard sketches and a direct
    // single-pass sketch agree with exact cardinality within 6%
    // (≈ 3.8σ of the k=4096 RSE) — the merge loses no accuracy class;
    // deterministic: theta is hash-based, no RNG.
    import graft.functions.SketchFunctions._
    val n = 30000L
    val rows = spark.range(n).select(col("id"), pmod(col("id"), lit(8)).as("shard"))
    val skDir = java.nio.file.Files.createTempDirectory("graft_theta_est").toString
    val shards = rows.groupBy(col("shard")).agg(thetaSketchAgg(col("id")).as("sk"))
    shards.write.parquet(skDir + "/shards")
    val written = shards.select(col("shard"), col("sk")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val reread = spark.read.parquet(skDir + "/shards").collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Array[Byte]]("sk")).toMap
    assert(written.keySet === reread.keySet)
    written.foreach { case (s, bytes) =>
      assert(java.util.Arrays.equals(bytes, reread(s)),
        s"shard $s sketch bytes changed through parquet")
    }
    val merged = spark.read.parquet(skDir + "/shards")
      .agg(thetaUnionAgg(col("sk")).as("sk"))
      .select(thetaEstimate(col("sk"))).head.getDouble(0)
    val direct = rows.agg(thetaSketchAgg(col("id")).as("sk"))
      .select(thetaEstimate(col("sk"))).head.getDouble(0)
    assert(math.abs(merged - n) <= 0.06 * n,
      s"shard-merged estimate $merged off exact $n by > 6%")
    assert(math.abs(direct - n) <= 0.06 * n,
      s"direct estimate $direct off exact $n by > 6%")
    assert(merged > 4096 && direct > 4096,
      "fixture failed to reach estimation mode — asserts vacuous")
  }
}
