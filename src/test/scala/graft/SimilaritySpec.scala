package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("ann_bruteforce: k neighbors per query, broadcast query set") {
    val df = Similarity.annBruteforce(spark, sf)
    val rows = df.collect()
    assert(rows.length == 50) // 10 queries × k=5
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
    val plan = planOf(Similarity.annBruteforce(spark, sf))
    assert(plan.contains("Broadcast"), plan)
  }

  test("decon_recall_eval: recall monotone in the probe count, gate " +
      "flags a subset of brute, production defaults recover >= 0.5") {
    val rows = Similarity.deconRecallEval(spark, sf).collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 0.3), (1, 0.4), (2, 0.3), (2, 0.4), (4, 0.3), (4, 0.4)),
      "grid rows in (n_probe, tau) order")
    // soundness: the gate can only flag docs the brute check flags
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2),
      s"flagged ${r.getLong(3)} must be <= brute ${r.getLong(2)}"))
    // more probes can only surface more reachable pairs
    Seq(0.3, 0.4).foreach { tau =>
      val rec = rows.filter(_.getDouble(1) == tau)
        .sortBy(_.getInt(0)).map(_.getDouble(4))
      assert(rec.zip(rec.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"recall must not shrink with n_probe at tau=$tau: ${rec.toSeq}")
    }
    // the gate's production operating point (nProbe=4, tau=0.4)
    // recovers at least half the brute verdict — the same floor the
    // decontaminate_semantic spec pins, now PRICED across the knobs
    val d = rows.find(r => r.getInt(0) == 4 && r.getDouble(1) == 0.4).get
    assert(d.getDouble(4) >= 0.5, s"default-point recall $d")
    // the truth leg is a bounded-broadcast BNLJ (nEval rows build
    // side — the documented recall-truth shape); only an unbounded
    // cartesian would be a plan bug
    assert(!planOf(Similarity.deconRecallEval(spark, sf))
      .contains("CartesianProduct"))
  }

  test("opq_rotate: the trained rotation is orthogonal, OPQ serving " +
      "returns k ranked neighbors per query, and the recall table " +
      "prices it against raw and residual at identical bits") {
    import org.apache.spark.sql.functions.col
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (r, cbs) = Similarity.trainOpqRotation(v)
    val d = r.length
    assert(d == 64 && cbs.length == 8 && cbs.head.length == 16)
    // R·Rᵀ = I within the 1e-6 coefficient rounding (×d accumulation)
    for (i <- 0 until d; j <- i until d) {
      val dotv = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dotv - want) < 1e-3,
        s"R R^T [$i][$j] = $dotv, want $want")
    }
    val out = Similarity.annPqOpq(spark, sf).collect()
    assert(out.length == 50) // 10 queries × k=5
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // the recall table carries the OPQ row — same truth, same bits;
    // whether rotation BUYS recall on this corpus is what it measures
    val recall = Similarity.annRecallEvalPq(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(recall.contains("ann_pq_opq"), recall.toString)
    assert(recall("ann_pq_opq") >= 0.0 && recall("ann_pq_opq") <= 1.0)
    // the ADC stage broadcasts the 10-row query set on a non-equi
    // condition (the ann_pq shape — a bounded BNLJ, not a cartesian)
    assert(!planOf(Similarity.annPqOpq(spark, sf))
      .contains("CartesianProduct"))
  }

  test("ann_lsh: bucketed candidates, recall@5 >= 0.5 vs brute force") {
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    assertNoCartesian(Similarity.annLsh(spark, sf))
    // final ranking is the bounded TopKByScore aggregate, not a
    // per-query window sort (which would funnel every surviving
    // candidate of a query into one task at scale)
    assert(!planOf(Similarity.annLsh(spark, sf)).contains("Window"),
      "ann_lsh final ranking must not use a window")
  }

  test("ann_sign_sketch: 63-bit codes, hamming prefilter, recall@5 >= 0.5") {
    // hand vector: sign code packs exactly bit i = embedding[i] > 0
    import spark.implicits._
    val hand = Seq((0L, Array.tabulate(64)(i =>
      if (i % 3 == 0) 1.0f else -1.0f), 0)).toDF("vec_id", "embedding", "label")
    hand.createOrReplaceTempView("hand_emb")
    val code = spark.sql(
      """SELECT aggregate(sequence(0, 62), CAST(0 AS BIGINT),
           (acc, i) -> acc + IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT),
                                shiftleft(CAST(1 AS BIGINT), i),
                                CAST(0 AS BIGINT))) AS code FROM hand_emb""")
      .collect().head.getLong(0)
    val expected = (0 until 63).filter(_ % 3 == 0)
      .map(i => 1L << i).sum
    assert(code == expected)
    assert(code >= 0L, "code must stay clear of the sign bit")
    // serve quality: hamming-prefilter + exact rerank against brute
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = Similarity.annSignSketch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect sketch).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    // both stages end in the bounded TopK aggregate — no window sort
    assert(!planOf(Similarity.annSignSketch(spark, sf)).contains("Window"),
      "ann_sign_sketch must not use a window")
  }

  test("ann_ivf: probed cells bound candidates, recall@5 >= 0.5 vs brute") {
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    // cell assignment is map-only: no nested-loop centroid cross product
    // (the pre-rewrite plan had one) and no cartesian anywhere
    assertNoCartesian(Similarity.annIvf(spark, sf))
    // bounded TopKByScore ranking, no per-query window sort
    assert(!planOf(Similarity.annIvfStatic(spark, sf)).contains("Window"),
      "ann_ivf final ranking must not use a window")
  }

  test("ann_ivfpq: IVFADC recall@5 >= 0.5; no window, no cartesian") {
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.annIvfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    val plan = planOf(Similarity.annIvfPq(spark, sf))
    assert(!plan.contains("Window"),
      "ann_ivfpq ranking must use the bounded aggregate, not a window")
    assert(!plan.contains("Cartesian"), "probe join must be an equi-join")
  }

  test("ann_ivfpq_residual: residual encoding beats raw at the same " +
       "storage; no window, no cartesian") {
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val raw = recallOf(Similarity.annIvfPq(spark, sf))
    val res = recallOf(Similarity.annIvfPqResidual(spark, sf))
    assert(res >= 0.5, s"residual recall@5 = $res")
    // the variant's reason to exist: same 8-nibble codes, same probe
    // geometry, same shortlist budget — higher recall (residuals of a
    // cell concentrate near 0, so the codebook budget covers a much
    // tighter distribution). sf0.01 measures 0.72 raw vs 0.80 residual.
    assert(res >= raw,
      s"residual recall@5 = $res must not lose to raw IVFADC ($raw)")
    val plan = planOf(Similarity.annIvfPqResidual(spark, sf))
    assert(!plan.contains("Window"),
      "ann_ivfpq_residual ranking must use the bounded aggregate")
    assert(!plan.contains("Cartesian"), "probe join must be an equi-join")
  }

  test("pq_bits_sweep: recall non-decreasing and distortion " +
       "non-increasing in codebook bits") {
    val rows = Similarity.pqBitsSweep(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(4, 16, 64))
    // more codewords = a finer quantizer: reconstruction error must
    // not grow, and shortlist recall must not shrink (sf0.01 measures
    // recall 0.50 / 0.70 / 0.96 at 16 / 32 / 48 bits per vector)
    val mse = rows.map(_.getDouble(3))
    val recall = rows.map(_.getDouble(6))
    assert(mse.zip(mse.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"distortion must not grow with bits: ${mse.toSeq}")
    assert(recall.zip(recall.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"recall must not shrink with bits: ${recall.toSeq}")
    assert(rows.map(_.getInt(2)).toSeq == Seq(16, 32, 48),
      "storage bill: 8 sub-spaces x 2/4/6 bits")
  }

  test("pq_shortlist_sweep_residual: recall monotone in the budget; " +
       "gather bill is the measured prefix") {
    val rows = Similarity.pqShortlistSweepResidual(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    val recall = rows.map(_.getDouble(4))
    assert(recall.zip(recall.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"recall must not shrink with the shortlist budget: ${recall.toSeq}")
    // the gather bill is the MEASURED rank-prefix count (probed-cell
    // pools vary per query), bounded by f*k per query
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getInt(0).toLong * 5 * 10,
        s"n_rerank ${r.getLong(1)} exceeds f*k*nQueries at f=${r.getInt(0)}")
    }
    // sf0.01 measures 0.38/0.58/0.72/0.80 vs raw PQ's
    // 0.32/0.42/0.56/0.70 — residual at factor 4 matches raw at
    // factor 8: the same recall at HALF the gather bill
    assert(recall.last >= 0.5, s"max-budget recall ${recall.last}")
  }

  test("decontaminate_semantic: evidence rows are sound, recall >= 0.5 " +
       "vs the unbucketed brute check, eval side broadcast") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.decontaminateSemantic(spark, sf).collect()
    // corpus rows only, and flagged evidence points at the eval split
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 10 != 0))
    val flagged = rows.filter(_.getBoolean(1))
    assert(flagged.nonEmpty, "fixture must produce contaminated docs")
    assert(flagged.forall(r => r.getLong(2) >= 1 && r.getLong(3) % 10 == 0
      && r.getDouble(4) >= 0.4))
    assert(rows.filterNot(_.getBoolean(1)).forall(r =>
      r.getLong(2) == 0 && r.isNullAt(3)))
    // soundness + recall vs brute: every flag's evidence pair really
    // clears tau (no false positives), and the cell probe finds at
    // least half of what the unbucketed all-pairs check finds
    val embs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    flagged.foreach { r =>
      assert(cos(embs(r.getLong(0)), embs(r.getLong(3))) >= 0.4 - 1e-9,
        s"evidence pair ${r.getLong(0)}->${r.getLong(3)} below tau")
    }
    val evalIds = embs.keys.filter(_ % 10 == 0)
    val brute = embs.keys.filter(id => id % 10 != 0 &&
      evalIds.exists(e => cos(embs(id), embs(e)) >= 0.4)).toSet
    val got = flagged.map(_.getLong(0)).toSet
    assert(got.subsetOf(brute), "no false positives vs brute")
    assert(got.size.toDouble / brute.size >= 0.5,
      s"probe recall ${got.size}/${brute.size} must be >= 0.5")
    val plan = planOf(Similarity.decontaminateSemantic(spark, sf))
    assert(plan.contains("Broadcast"), "eval probe side must broadcast")
    assert(!plan.contains("Cartesian"), "probe join must be an equi-join")
  }

  test("hard_negatives: every mined negative crosses the label boundary") {
    val rows = Similarity.hardNegatives(spark, sf).collect()
    assert(rows.length == 50)
    val label = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toMap
    rows.foreach { r =>
      assert(label(r.getLong(0)) != label(r.getLong(1)),
        s"anchor ${r.getLong(0)} mined a same-label neighbor")
    }
    // bounded ranking, not a window
    assert(!planOf(Similarity.hardNegatives(spark, sf)).contains("Window"))
  }

  test("semantic_dedup: in-cell near-dups drop to lower-id canonical; no cartesian") {
    val rows = Similarity.semanticDedup(spark, sf).collect()
    assert(rows.length == 500)
    // every dropped vector names a LOWER-id canonical; kept rows name none
    rows.foreach { r =>
      if (r.getBoolean(2)) assert(r.getLong(3) < r.getLong(0))
      else assert(r.isNullAt(3))
    }
    // decisions agree with a brute-force within-cell replay
    val v = Tables.load(spark, sf, "embeddings").selectExpr("vec_id",
      "embedding",
      "sqrt(aggregate(transform(embedding, x -> double(x) * double(x)), 0D, (a, b) -> a + b)) AS nrm")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getDouble(2)))
    val cellOf = rows.map(r => (r.getLong(0), r.getInt(1))).toMap
    def cos(a: (Long, Array[Float], Double), b: (Long, Array[Float], Double)) =
      a._2.zip(b._2).map { case (x, y) => x.toDouble * y.toDouble }.sum / (a._3 * b._3)
    val expectDropped = (for {
      x <- v; y <- v
      if y._1 < x._1 && cellOf(x._1) == cellOf(y._1) && cos(y, x) >= 0.4
    } yield x._1).toSet
    assert(rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == expectDropped)
    assertNoCartesian(Similarity.semanticDedup(spark, sf))
  }

  test("semantic_dedup_incremental: delta decisions equal a brute " +
      "within-cell replay of the order-free rule; no cartesian") {
    val rows = Similarity.semanticDedupIncremental(spark, sf).collect()
    val v = Tables.load(spark, sf, "embeddings").selectExpr("vec_id",
      "embedding",
      "sqrt(aggregate(transform(embedding, x -> double(x) * double(x)), 0D, (a, b) -> a + b)) AS nrm")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getDouble(2)))
    // decisions cover exactly the delta slice (vec_id % 5 != 0)
    assert(rows.map(_.getLong(0)).toSet ==
      v.map(_._1).filter(_ % 5 != 0).toSet)
    // brute replay: near iff a same-cell cosine>=tau neighbor is base
    // or a smaller delta id (cells from the engine's own assignment —
    // the cell CHOICE is pinned by semantic_dedup's oracle already)
    val cellOf = rows.map(r => (r.getLong(0), r.getInt(1))).toMap ++
      Similarity.semanticDedup(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
    def cos(a: (Long, Array[Float], Double), b: (Long, Array[Float], Double)) =
      a._2.zip(b._2).map { case (x, y) => x.toDouble * y.toDouble }.sum / (a._3 * b._3)
    val expectNear = (for {
      x <- v; y <- v
      if x._1 % 5 != 0 && x._1 != y._1
      if y._1 % 5 == 0 || (y._1 % 5 != 0 && y._1 < x._1)
      if cellOf(x._1) == cellOf(y._1) && cos(y, x) >= 0.4
    } yield x._1).toSet
    assert(rows.filter(_.getString(2) == "near").map(_.getLong(0)).toSet
      == expectNear)
    assertNoCartesian(Similarity.semanticDedupIncremental(spark, sf))
  }

  test("ann_pq: trained codebooks deterministic; recall@5 >= 0.5 after re-rank") {
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.annPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    // stage 1 is a DELIBERATE scan of every code row per broadcast
    // query (the same shape as ann_bruteforce, over 32-bit codes
    // instead of 256-byte vectors) — assert the broadcast, not
    // no-cartesian
    assert(planOf(Similarity.annPq(spark, sf)).contains("Broadcast"))
    // training determinism (the property the trained-inline oracle
    // stands on): two trainings yield identical codebooks
    val v = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(aggregate(transform(embedding, x -> double(x) * double(x)), 0D, (a, b) -> a + b)) AS nrm")
    val a = Similarity.trainPqCodebooks(v)
    val b = Similarity.trainPqCodebooks(v)
    assert(a.length == 8 && a.head.length == 16 && a.head.head.length == 8)
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
  }

  test("ann_sq8: near-exact recall over int8 scoring; kernel matches " +
      "the distortion identity; recall table carries the sq8 row") {
    import org.apache.spark.sql.functions.col
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.annSq8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 max-abs distortion is tiny (quantize_eval prices it), so the
    // shortlist is near-exact — a far higher floor than PQ's 0.5
    val recall = (brute intersect sq8).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@5 = $recall")
    // stage 1 is the deliberate broadcast-query scan over int8 scores
    // (the ann_pq shape) — assert the broadcast, not no-cartesian
    assert(planOf(Similarity.annSq8(spark, sf)).contains("Broadcast"))
    // serving-arithmetic identity: cos(x, dq(x)) via the pipeline's
    // dequant + dot route == 1 - distortion(x) — the serving score and
    // the storage-QA number are the same arithmetic
    val dotc = graft.functions.DotProduct.dot _
    val rows = Tables.load(spark, sf, "embeddings").limit(8)
      .select(col("embedding").as("e"),
        graft.functions.Sq8Dequant.dequant(col("embedding")).as("d"))
      .select(
        (dotc(col("e"), col("d"))
          / (org.apache.spark.sql.functions.sqrt(dotc(col("e"), col("e")))
             * org.apache.spark.sql.functions.sqrt(dotc(col("d"), col("d")))))
          .as("c"),
        graft.functions.QuantizeI8.distortion(col("e")).as("dist"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - (1.0 - r.getDouble(1))) < 1e-12,
        s"cos ${r.getDouble(0)} vs 1 - distortion ${r.getDouble(1)}")
    }
    // the recall table prices sq8 against the PQ ladder on shared truth
    val table = Similarity.annRecallEvalPq(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(table.contains("ann_sq8"), table.toString)
    assert(table("ann_sq8") >= table("ann_pq"),
      s"sq8 ${table("ann_sq8")} should not trail 4-bit PQ ${table("ann_pq")}")
  }

  test("ann_ivfsq8: identical answers to trained IVF at the same " +
      "operating point — the probe pattern is the only recall loss") {
    val ivf = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sq8 = Similarity.annIvfSq8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // sq8 scoring is near-exact (flat-scan recall 1.00 in the #226
    // table), so the f=8 shortlist always covers the exact top-k of
    // the probed candidates here: same probes -> same answers, at a
    // 4x cheaper candidate scan
    assert(sq8 == ivf, s"ivf-sq8 diverged: ${(sq8 diff ivf).take(3)} / ${(ivf diff sq8).take(3)}")
    // the candidate stage is the cell EQUI-join (bounded broadcast
    // probe side), not a corpus-wide nested loop
    val plan = planOf(Similarity.annIvfSq8(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("ann_ivfsq8_indexed: artifact-served sq8 equals the inline " +
      "pipeline under the shared static quantizer") {
    import org.apache.spark.sql.functions.col
    val inline = Similarity.annIvfSq8With(
      Tables.load(spark, sf, "embeddings")
        .selectExpr("vec_id", "label", "embedding",
          "sqrt(aggregate(transform(embedding, x -> double(x) * double(x)), 0D, (a, b) -> a + b)) AS nrm"),
      Similarity.staticCentroids(), nProbe = 4, nQueries = 10, k = 5)
      .collect().map(_.toString).toSeq
    val indexed = Similarity.annIvfSq8Indexed(spark, sf)
      .collect().map(_.toString).toSeq
    assert(indexed == inline, "artifact serve must be bit-identical")
    assert(indexed.nonEmpty)
  }

  test("ann_mmr: lambda=1 degenerates to exact top-k; lambda<1 buys " +
      "strictly less redundancy; greedy is deterministic") {
    // λ=1: mmr == cosq, so the greedy selection IS the exact top-k in
    // rank order — pins the selection machinery against ann_bruteforce
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val degen = Similarity.annMmr(spark, sf, lambda = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(degen == brute,
      s"λ=1 must equal top-k: ${(degen diff brute).take(3)}")
    // λ=0.7: per query, the selected set's max pairwise cosine is <=
    // the plain top-k set's (diversity is what the knob buys)
    val mmr = Similarity.annMmr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def maxPair(ids: Seq[Long]) =
      (for (a <- ids; b <- ids if a < b) yield cos(vecs(a), vecs(b))).max
    // MMR is a greedy trade, not a max-pair minimizer — a per-query
    // bound is NOT a theorem (and indeed fails on already-diverse
    // queries here by hairs). The honest property: redundancy drops
    // IN AGGREGATE across the query set, strictly.
    val byQ = mmr.groupBy(_._1)
    val bruteByQ = brute.toSeq.groupBy(_._1)
    val perQ = byQ.map { case (q, sel) =>
      (maxPair(sel.map(_._2).toSeq), maxPair(bruteByQ(q).map(_._2).toSeq))
    }.toSeq
    val (mmrSum, bruteSum) = (perQ.map(_._1).sum, perQ.map(_._2).sum)
    assert(mmrSum < bruteSum - 1e-9,
      s"aggregate max-pair redundancy must drop: $mmrSum vs $bruteSum")
    assert(perQ.count { case (m, b) => m < b - 1e-12 } > 0,
      "diversity must strictly improve on some query")
    // deterministic: two runs agree exactly
    val again = Similarity.annMmr(spark, sf).collect().map(_.toString).toSeq
    assert(again == Similarity.annMmr(spark, sf).collect()
      .map(_.toString).toSeq)
  }

  test("ann_mmr_indexed: full probes reproduce the brute MMR picks " +
      "exactly; production probes stay k-deep per query") {
    // nProbe = nCells ⇒ every inverted list is probed ⇒ the artifact
    // shortlist IS the brute shortlist ⇒ identical greedy picks (the
    // ann_ivfsq8 equality stance, extended to the diversity re-rank)
    val full = Similarity.annMmrIndexed(spark, sf, nProbe = 16)
      .collect().map(_.toString).toSeq
    val brute = Similarity.annMmr(spark, sf).collect()
      .map(_.toString).toSeq
    assert(full == brute, "full-probe artifact MMR must equal brute MMR")
    // production point: every query still gets its k diverse picks,
    // ranks dense from 1
    val served = Similarity.annMmrIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks")
    }
    assert(served.map(_._1).distinct.length == 10)
  }

  test("ann_mmr_sq8_indexed: full probes over the sq8 scan reproduce " +
      "the brute MMR picks exactly; production probes stay k-deep") {
    // nProbe = nCells ⇒ every list probed; the exact top-f·k all sit
    // inside the sq8 top-2f·k on the fixture ⇒ the exact-rescored
    // shortlist IS the brute shortlist ⇒ identical greedy picks (the
    // ann_ivfsq8 equality stance composed with the MMR one)
    val full = Similarity.annMmrSq8Indexed(spark, sf, nProbe = 16)
      .collect().map(_.toString).toSeq
    val brute = Similarity.annMmr(spark, sf).collect()
      .map(_.toString).toSeq
    assert(full == brute,
      "full-probe sq8-scan MMR must equal brute MMR")
    // production point: k dense ranks per query off the cheap scan
    val served = Similarity.annMmrSq8Indexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks")
    }
    assert(served.map(_._1).distinct.length == 10)
  }

  test("ann_mmr_pq_indexed: full probes over the ADC scan reproduce the " +
      "brute MMR picks exactly; production probes stay k-deep") {
    // nProbe = nCells ⇒ every list probed; ADC is a far coarser sketch
    // than sq8 (8 4-bit codes vs 64 bytes), so the exact top-f·k only
    // all sit inside the ADC top-preFactor·f·k at a WIDER preFactor —
    // 8 on the fixture where sq8 needed 2 (measured: preFactor 2
    // agrees on every rank-1 pick but drops deeper shortlist members).
    // Same equality stance, honest budget — production operating
    // points read pq_shortlist_sweep, not this pin.
    val full = Similarity.annMmrPqIndexed(spark, sf, nProbe = 16,
        preFactor = 8)
      .collect().map(_.toString).toSeq
    val brute = Similarity.annMmr(spark, sf).collect()
      .map(_.toString).toSeq
    assert(full == brute,
      "full-probe ADC-scan MMR must equal brute MMR")
    // production point: k dense ranks per query off the compressed scan
    val served = Similarity.annMmrPqIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks")
    }
    assert(served.map(_._1).distinct.length == 10)
  }

  test("ann_ivf: trained centroids are unit-norm and deterministic") {
    val v = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, v) -> a + v)) AS nrm")
    val c1 = Similarity.trainCentroids(v, nCells = 8, iters = 2)
    val c2 = Similarity.trainCentroids(v, nCells = 8, iters = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "k-means training must be run-to-run deterministic")
    c1.foreach { cent =>
      val n = math.sqrt(cent.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n")
    }
  }

  test("embedding_dedup: pairs stay within label blocks, no cartesian") {
    val rows = Similarity.embeddingDedup(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("cos6") >= 0.4))
    assertNoCartesian(Similarity.embeddingDedup(spark, sf))
  }

  test("embedding_quantize: int8 range, positional checksum, error bound maxabs/254") {
    val rows = Similarity.embeddingQuantize(spark, sf).collect()
    assert(rows.length ==
      Tables.load(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val (scale4, maxErr, maxAbs) =
        (r.getDouble(1), r.getDouble(3), r.getDouble(4))
      assert(scale4 > 0)
      // q = round(x*scale) with |x*scale| <= 127 => loss is rounding only
      assert(maxErr <= maxAbs / 254.0 + 1e-6,
        s"vec ${r.getLong(0)}: err $maxErr > bound ${maxAbs / 254.0}")
    }
    // map-only: no hash exchange anywhere in the plan
    val plan = planOf(Similarity.embeddingQuantize(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quantization must not shuffle:\n$plan")
  }

  test("quantize_eval: distortion matches a hand-computed vector; zero vec = 0") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeEvalFrom(embs).collect().head
    // mirror the kernel arithmetic on vec 1 (vec 2 contributes 0)
    val x = Array(1.0f, -0.5f, 0.25f).map(_.toDouble)
    val scale = 127.0 / 1.0
    // half AWAY from zero, like the kernel (math.round would give -63
    // for -63.5 where the kernel gives -64)
    def rha(v: Double) =
      if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
    val d = x.map(v => math.min(math.max(rha(v * scale), -127.0), 127.0)
      / scale)
    val cos = x.zip(d).map { case (a, b) => a * b }.sum /
      (math.sqrt(x.map(v => v * v).sum) * math.sqrt(d.map(v => v * v).sum))
    val d8 = BigDecimal(1.0 - cos)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == d8)                  // max = vec 1's distortion
    assert(r.getDouble(2) == BigDecimal(d8 / 2)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ann_recall_eval: recall bounded by 1, brute truth size = nQueries*k") {
    val rows = Similarity.annRecallEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq
      == Seq("ann_ivf_static", "ann_lsh", "ann_sign_sketch"))
    rows.foreach { case (v, truth, hit, recall) =>
      assert(truth == 50L, s"$v truth $truth")
      assert(hit <= truth && recall >= 0.0 && recall <= 1.0)
      assert(recall == math.round(hit.toDouble / truth * 10000) / 10000.0)
    }
  }

  test("knn_graph: mutual flags are symmetric and edges bound by k") {
    val edges = Similarity.knnGraph(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    val set = edges.map(e => (e._1, e._2)).toSet
    // mutual(a,b) must equal "(b,a) is also an edge", for every edge
    edges.foreach { case (a, b, m) =>
      assert(m == set.contains((b, a)), s"mutual flag wrong for ($a,$b)")
    }
    // per-node degree == k (every node has >= k candidates here)
    edges.groupBy(_._1).foreach { case (src, es) =>
      assert(es.length == 3, s"node $src has ${es.length} edges")
    }
    // ranking stays the bounded aggregate, not a window sort
    assert(!planOf(Similarity.knnGraph(spark, sf)).contains("Window"))
  }

  test("knn_graph: full-probe cell join equals the broadcast brute graph " +
      "and has no corpus-sided broadcast") {
    val exact = Similarity.knnGraph(spark, sf)
    val brute = Similarity.knnGraphBrute(spark, sf)
    assert(exact.collect().toSeq == brute.collect().toSeq,
      "full-probe cell scoring must reproduce the brute graph exactly")
    val plan = planOf(exact)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"headline graph build must not broadcast the corpus:\n$plan")
  }

  test("knn_graph_ann: recall >= 0.5 vs brute graph; no broadcast of the corpus side") {
    val brute = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.knnGraphAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"graph recall = $recall")
    // mutual flags symmetric within the ANN graph too
    val edges = Similarity.knnGraphAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    val set = edges.map(e => (e._1, e._2)).toSet
    edges.foreach { case (a, b, m) =>
      assert(m == set.contains((b, a)), s"mutual flag wrong for ($a,$b)")
    }
    val plan = planOf(Similarity.knnGraphAnn(spark, sf))
    // candidate generation must be the cell equi-join (both sides are
    // the corpus at scale): no cartesian, bounded TopK (no window)
    assert(!plan.contains("Cartesian"), "cell join must be an equi-join")
    assert(!plan.contains("Window"), "ranking must stay the bounded aggregate")
  }

  test("label_spread: per-class eval partitions the non-seed set exactly") {
    val rows = Similarity.labelSpread(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // classes partition the held-back set: seeds + evals = corpus
    val nSeeds = rows.map(_._2).sum
    val nEval = rows.map(_._3).sum
    assert(nSeeds + nEval == 500L, s"$nSeeds seeds + $nEval evals")
    rows.foreach { case (label, _, nEv, nCor, acc) =>
      assert(nCor <= nEv, s"label $label")
      assert(acc == math.round(nCor.toDouble / nEv * 10000) / 10000.0)
    }
    // seed side broadcast, ranking bounded: no window over the corpus
    val plan = planOf(Similarity.labelSpread(spark, sf))
    assert(!plan.contains("Window"), "ranking must stay the bounded aggregate")
    assert(plan.contains("Broadcast"), "seed registry must broadcast")
  }

  test("label_spread: geometrically clustered classes propagate exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{aggregate, col, lit, sqrt}
    // two tight clusters on orthogonal axes; vec_id % 5 == 0 are seeds
    def vec(main: Int, id: Long): (Long, Int, Array[Float]) = {
      val e = Array.fill(4)(0.01f * (id % 3))
      e(main) = 1f
      (id, main, e)
    }
    // class 0 on axis 0: ids 0,5,10 seeds + 1,2 queries
    // class 1 on axis 1: ids 15,20 seeds + 6,7,21 queries
    val rows = Seq(vec(0, 0L), vec(0, 5L), vec(0, 10L), vec(0, 1L),
      vec(0, 2L), vec(1, 15L), vec(1, 20L), vec(1, 6L), vec(1, 7L),
      vec(1, 21L))
    val v = rows.toDF("vec_id", "label", "embedding")
      .withColumn("nrm", sqrt(aggregate(col("embedding"), lit(0d),
        (acc, x) => acc + x * x)))
    val got = Similarity.labelSpreadFrom(v, k = 2, seedMod = 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // every query's 2 nearest seeds are its own cluster -> perfect acc
    assert(got == Seq((0, 3L, 2L, 2L, 1.0), (1, 2L, 3L, 3L, 1.0)))
  }

  test("ann_ivf_indexed: serving from the artifact equals the live pipeline") {
    val indexed = Similarity.annIvfIndexed(spark, sf).collect().map(_.toString)
    val live = Similarity.annIvfStatic(spark, sf).collect().map(_.toString)
    assert(indexed.toSeq == live.toSeq,
      "index round-trip must not change a single ranked row")

    // the inverted-list layout prunes: a single-cell read touches ONE
    // partition directory (the whole point of partitionBy(cell) — at
    // 100 TB a probe reads nProbe/nCells of the data BY LAYOUT).
    // Built explicitly here: annIvfIndexed uses a per-run UUID dir.
    val dir = graft.operators.ExportImport.scratch("ivf-index-spec")
    Similarity.ivfIndexToDir(spark, sf, dir)
    val one = spark.read.parquet(s"$dir/assigned")
      .filter(org.apache.spark.sql.functions.col("cell") === 3)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"cell filter must reach the scan as a partition filter:\n$scan")
    one.collect()
  }

  test("ivfIndexAppend: appended index serves identically to a rebuild") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val isDelta = col("vec_id") % 5 === 0
    val dir = graft.operators.ExportImport.scratch("ivf-index-inc")

    // build on the base slice only, then append the delta with the
    // artifact's own centroids
    graft.sources.XlsxTables.clearDir(dir)
    val base = Tables.load(spark, sf, "embeddings").filter(!isDelta)
    base.select(
        org.apache.spark.sql.functions.element_at(
          graft.functions.VectorQuantize.nearestCells(col("embedding"),
            Similarity.staticCentroids(), 1), 1).as("cell"),
        col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.l2norm(col("embedding")).as("nrm"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    import spark.implicits._
    Similarity.staticCentroids().zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.ivfIndexAppend(spark, dir, embs.filter(isDelta))

    val queries = embs.filter(col("vec_id") < 10)
    // rebuild from scratch over the full vector set
    val full = graft.operators.ExportImport.scratch("ivf-index-full")
    Similarity.ivfIndexToDir(spark, sf, full)
    // every serving verb reads the same artifact lists: raw top-k, the
    // sq8 two-stage scan and the MMR re-rank
    Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "serve" -> (d => Similarity.annServeFromIndex(spark, d, queries)),
      "sq8" -> (d => Similarity.annServeSq8FromIndex(spark, d, queries)),
      "mmr" -> (d => Similarity.annMmrFromIndex(spark, d, queries))
    ).foreach { case (name, serve) =>
      val appended = serve(dir).collect().map(_.toString).toSeq
      val rebuilt = serve(full).collect().map(_.toString).toSeq
      assert(appended == rebuilt && appended.nonEmpty,
        s"$name: append must serve identically to a full rebuild")
    }
  }

  test("ivfIndexCompact: serving identical before/after, deltas folded, " +
      "replay skipped, reset refused") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-index-gc")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    Similarity.ivfIndexToDir(spark, sf, dir)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def delta(m: Int, off: Long) = embs.filter(col("vec_id") % m === 0)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(delta(5, 10000), 0L, dir)
    graft.streaming.StreamIvfIndex.applyBatch(delta(7, 20000), 1L, dir)
    val queries = embs.filter(col("vec_id") < 10)
    def serve() = Similarity.annServeFromIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq.sorted
    def deltaDirs() = {
      val (fs, p) = graft.streaming.StreamIO.fsFor(s"$dir/stream", conf)
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
    }
    val before = serve()
    val nRows = Similarity.readIvfAssigned(spark, dir).count()
    assert(deltaDirs().size == 2, "two live deltas before the fold")
    assert(Similarity.ivfIndexCompact(spark, dir).contains(1L))
    assert(serve() == before,
      "compaction must not change a single served row")
    assert(Similarity.readIvfAssigned(spark, dir).count() == nRows)
    assert(deltaDirs().isEmpty, "folded deltas must be gone")
    // replay of the folded batch: skipped, nothing re-lands
    graft.streaming.StreamIvfIndex.applyBatch(delta(7, 20000), 1L, dir)
    assert(deltaDirs().isEmpty && serve() == before,
      "replay of the folded batch must be a no-op")
    // an id below the watermark = reset checkpoint: refuse loudly
    intercept[IllegalStateException] {
      graft.streaming.StreamIvfIndex.applyBatch(delta(5, 10000), 0L, dir)
    }
    // the stream continues past the fold, and a second fold is clean
    graft.streaming.StreamIvfIndex.applyBatch(delta(11, 30000), 2L, dir)
    val withB2 = serve()
    assert(Similarity.ivfIndexCompact(spark, dir).contains(2L))
    assert(serve() == withB2 && deltaDirs().isEmpty)
    // nothing left to fold
    assert(Similarity.ivfIndexCompact(spark, dir).isEmpty)
  }

  test("ivf_drift: scenarios discriminate; from-index form equals the " +
      "frame form") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.ivfDrift(spark, sf).collect()
    val byScen = rows.groupBy(_.getAs[String]("scenario"))
    assert(byScen.keySet == Set("stable", "shifted"))
    assert(byScen("stable").forall(!_.getAs[Boolean]("is_shifted")),
      "same-distribution ingest must NOT flag drift")
    assert(byScen("shifted").forall(_.getAs[Boolean]("is_shifted")),
      "mean-shifted ingest MUST flag drift")
    val psiOf = (s: String) => byScen(s).head.getAs[Double]("psi4")
    assert(psiOf("stable") < 0.05 && psiOf("shifted") > 0.2,
      s"psi stable=${psiOf("stable")} shifted=${psiOf("shifted")}")
    // the production monitor over a live artifact == the frame form on
    // the same vectors
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-drift-idx")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    Similarity.ivfIndexToDir(spark, sf, dir)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val delta = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x + org.apache.spark.sql.functions.lit(0.5f)).as("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(delta, 0L, dir)
    val viaIndex = Similarity.ivfDriftFromIndex(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    val viaFrames = Similarity.ivfDriftFrom(embs, embs.unionByName(delta),
        Similarity.staticCentroids())
      .collect().map(_.toString).toSeq.sorted
    assert(viaIndex == viaFrames,
      "index-artifact drift must equal the frame-form drift")
  }

  test("ivf_drift_impact: drifted ingest inflates the pruning bill; " +
      "recall holds or improves for in-crowd queries") {
    val rows = Similarity.ivfDriftImpact(spark, sf).collect()
      .map(r => r.getAs[String]("scenario") -> r).toMap
    assert(rows.keySet == Set("stable", "shifted"))
    val (st, sh) = (rows("stable"), rows("shifted"))
    assert(st.getAs[Long]("n_truth") == 50L
      && sh.getAs[Long]("n_truth") == 50L,
      "10 new-distribution queries x k=5 truth rows per scenario")
    Seq(st, sh).foreach { r =>
      val rec = r.getAs[Double]("recall4")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the drift signature the operator exists to expose: the shifted
    // queries probe the cells their own crowd landed in, so recall
    // does NOT collapse — the candidate volume (the pruning bill) does
    assert(sh.getAs[Double]("recall4") >= st.getAs[Double]("recall4"),
      "in-crowd recall must not fall below the stable baseline")
    assert(sh.getAs[Long]("n_candidates") >
        (st.getAs[Long]("n_candidates") * 1.3).toLong,
      s"drift must inflate the probed population: stable=${
        st.getAs[Long]("n_candidates")} shifted=${
        sh.getAs[Long]("n_candidates")}")
  }

  test("ivfIndexRebuild: retrains on base+deltas, equals a from-scratch " +
      "build, folds deltas, resets the baseline, bumps the version") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-rebuild-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val delta = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    Similarity.ivfIndexBuild(spark, base, dir)
    assert(Similarity.readIvfQuantizerVersion(spark, dir).contains(1L))
    graft.streaming.StreamIvfIndex.applyBatch(delta, 0L, dir)
    assert(Similarity.ivfDriftFromIndex(spark, dir).collect()
      .forall(_.getAs[Boolean]("is_shifted")),
      "drifted ingest must arm the monitor before the rebuild")

    val v = Similarity.ivfIndexRebuild(spark, dir)
    assert(v == 2L
      && Similarity.readIvfQuantizerVersion(spark, dir).contains(2L),
      "rebuild must bump the quantizer version")
    // deltas are folded into the rebuilt base; the watermark advanced,
    // so a replay of the folded batch is a no-op
    val (fs, streamRoot) = graft.streaming.StreamIO.fsFor(
      s"$dir/stream", conf)
    assert(!fs.exists(streamRoot), "folded deltas must be gone")
    val nRows = Similarity.readIvfAssigned(spark, dir).count()
    graft.streaming.StreamIvfIndex.applyBatch(delta, 0L, dir)
    assert(!fs.exists(streamRoot)
      && Similarity.readIvfAssigned(spark, dir).count() == nRows,
      "replay of the folded batch must be a no-op")
    // the monitor restarts from the reset baseline: PSI exactly 0
    val rows = Similarity.ivfDriftFromIndex(spark, dir).collect()
    assert(rows.forall(r => r.getAs[Double]("psi4") == 0.0
      && !r.getAs[Boolean]("is_shifted")
      && r.getAs[Long]("n_cells_onesided") == 0L),
      "post-rebuild monitor must read PSI = 0 on the reset baseline")
    // equality to a from-scratch build over the same corpus with the
    // same deterministic training
    val full = graft.operators.ExportImport.scratch("ivf-rebuild-full")
    graft.streaming.StreamIO.deleteRecursively(full, conf)
    val combined = base.unionByName(delta)
    Similarity.ivfIndexBuild(spark, combined, full,
      Similarity.trainCentroids(combined, 16))
    assert(Similarity.readIvfCentroids(spark, dir).map(_.toSeq).toSeq
        == Similarity.readIvfCentroids(spark, full).map(_.toSeq).toSeq,
      "rebuilt quantizer must equal the from-scratch training")
    val queries = embs.filter(col("vec_id") < 10)
    def serve(d: String) = Similarity.annServeFromIndex(spark, d, queries)
      .collect().map(_.toString).toSeq.sorted
    assert(serve(dir) == serve(full),
      "rebuilt index must serve identically to a from-scratch build")
  }

  test("ivfDriftFromIndex: compaction cannot reset the drift baseline") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-drift-compact")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark,
      embs.filter(col("vec_id") % 5 =!= 0), dir)
    val delta = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(delta, 0L, dir)
    val pre = Similarity.ivfDriftFromIndex(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    // fold the delta into the base — the ADVICE-r14 scenario where a
    // baseline re-derived from assigned/ would silently become the
    // drifted population and the monitor could never fire again
    assert(Similarity.ivfIndexCompact(spark, dir).contains(0L))
    val post = Similarity.ivfDriftFromIndex(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    assert(post == pre,
      "the drift verdict must be identical across a compaction")
  }

  test("StreamIvfIndex: a maintainer pinned to an old quantizer " +
      "version refuses batches after a rebuild") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-rebuild-pin")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark,
      embs.filter(col("vec_id") % 5 =!= 0), dir)
    val pinned = Similarity.readIvfQuantizerVersion(spark, dir)
    def delta(m: Int, off: Long) = embs.filter(col("vec_id") % m === 0)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(delta(5, 10000), 0L, dir,
      pinned)
    Similarity.ivfIndexRebuild(spark, dir)
    // the old stream's next batch must fail loudly, not land a delta
    // assigned under the retired quantizer
    intercept[IllegalStateException] {
      graft.streaming.StreamIvfIndex.applyBatch(delta(7, 20000), 1L, dir,
        pinned)
    }
    // a restarted maintainer re-pins the new version and proceeds
    graft.streaming.StreamIvfIndex.applyBatch(delta(7, 20000), 1L, dir,
      Similarity.readIvfQuantizerVersion(spark, dir))
    val (fs, streamRoot) = graft.streaming.StreamIO.fsFor(
      s"$dir/stream", conf)
    assert(fs.listStatus(streamRoot).exists(
      _.getPath.getName == "batch_id=1"),
      "the re-pinned maintainer must land its delta")
  }

  test("ann_ivfpq_indexed: the materialized IVFADC leg serves identically " +
      "to the inline pipeline; deltas take the exact fresh path; stale " +
      "codes refuse") {
    import org.apache.spark.sql.functions.col
    val inline = Similarity.annIvfPq(spark, sf)
      .collect().map(_.toString).toSeq
    val indexed = Similarity.annIvfPqIndexed(spark, sf)
      .collect().map(_.toString).toSeq
    assert(indexed == inline,
      "artifact-served IVFADC must equal the inline pipeline")

    // delta fresh path: exact duplicates of the query vectors appended
    // as live deltas must surface as top-1 (cos = 1) — never
    // ADC-approximated away, never shortlist-pruned
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivfpq-index-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark, embs, dir)
    Similarity.ivfPqIndexAdd(spark, dir)
    val queries = embs.filter(col("vec_id") < 5)
    val dup = queries.select((col("vec_id") + 50000).as("vec_id"),
      col("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(dup, 0L, dir)
    def top1() = Similarity.annServeFromPqIndex(spark, dir, queries)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaFresh = top1()
    (0L until 5L).foreach { q =>
      assert(viaFresh(q) == q + 50000,
        s"query $q: exact-duplicate delta must rank first, got $viaFresh")
    }
    // compaction folds the delta into the base → the codes no longer
    // cover the base → serving must refuse, not silently miss vectors
    assert(Similarity.ivfIndexCompact(spark, dir).contains(0L))
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
    // re-sync re-encodes with the STORED codebooks; the duplicates now
    // come through the ADC leg and still rank first
    Similarity.ivfPqIndexAdd(spark, dir)
    val viaAdc = top1()
    (0L until 5L).foreach(q => assert(viaAdc(q) == q + 50000,
      s"post-resync ADC leg must still surface the duplicate: $viaAdc"))
    // a rebuild swaps the whole artifact: the codes leg vanishes with
    // the retired quantizer and serving refuses until a fresh add
    Similarity.ivfIndexRebuild(spark, dir)
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
    Similarity.ivfPqIndexAdd(spark, dir)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "post-rebuild re-add must serve")
    // a codes leg without its completion marker (= the encode crashed
    // mid-write; the marker lands strictly after the codes) refuses
    val (mfs, mp) = graft.streaming.StreamIO.fsFor(
      s"$dir/codes/_synced_to", conf)
    mfs.delete(mp, false)
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
  }

  test("ann_ivfpq_opq_indexed: the OPQ-rotated leg serves identically " +
      "to the inline IVF-OPQ pipeline; the rotation mode survives a " +
      "re-sync; a contradicting re-sync and a torn rotation refuse") {
    import org.apache.spark.sql.functions.col
    val v = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(aggregate(transform(embedding, x -> double(x) * double(x)), 0D, (a, b) -> a + b)) AS nrm")
    val cents = Similarity.trainCentroids(v, 16)
    val (rO, cbsO) = Similarity.trainOpqRotation(v)
    val inline = Similarity.annIvfPqOpqWith(v, cents, rO, cbsO, 4, 10, 5)
      .collect().map(_.toString).toSeq
    val indexed = Similarity.annIvfPqOpqIndexed(spark, sf)
      .collect().map(_.toString).toSeq
    assert(indexed == inline,
      "artifact-served IVF-OPQ must equal the inline pipeline")

    // lifecycle on an internally-trained OPQ leg (opq = Some(true)
    // trains rotation + codebooks in one unit)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivfpq-opq-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark, embs, dir)
    Similarity.ivfPqIndexAdd(spark, dir, opq = Some(true))
    def rotMarker(): Long = graft.streaming.StreamIO.readMarker(
      s"$dir/codebooks", "_rotation", conf).getOrElse(0L)
    assert(rotMarker() == 1L, "the rotation marker must pin the mode")
    val queries = embs.filter(col("vec_id") < 5)
    val before = Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    // a re-sync cannot change the rotation mode
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir, opq = Some(false))
    }
    // a plain re-sync keeps the mode, the unit, and the answers
    Similarity.ivfPqIndexAdd(spark, dir)
    assert(rotMarker() == 1L)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq == before,
      "a pure re-sync must not change the served answers")
    // the drift monitor reads the leg in ROTATED space without error
    assert(Similarity.pqDriftFromIndex(spark, dir).collect().nonEmpty)
    // rotation promised by the marker but missing on disk = torn unit:
    // serving must refuse, not guess identity
    graft.streaming.StreamIO.deleteRecursively(s"$dir/rotation", conf)
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
    // a retrain that states the mode recovers the torn unit
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true, opq = Some(true))
    assert(rotMarker() == 1L)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "post-recovery serve must work")
    // the explicit-model path cannot write a marker/codes mismatch:
    // external codebooks without their rotation on a stored-OPQ leg
    // refuse (silent downgrade), external codebooks with opq=true but
    // no rotation refuse (the pair is one unit); a deliberate
    // opq=Some(false) re-key succeeds, clears the marker AND removes
    // the stale rotation/ member, and serves unrotated
    val extCbs = Similarity.readPqCodebooks(spark, dir)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir, Some(extCbs))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir, Some(extCbs), opq = Some(true))
    }
    Similarity.ivfPqIndexAdd(spark, dir, Some(extCbs), opq = Some(false))
    assert(rotMarker() == 0L, "deliberate re-key must clear the marker")
    val (rfs, rp) = graft.streaming.StreamIO.fsFor(s"$dir/rotation", conf)
    assert(!rfs.exists(rp), "stale rotation member must be removed")
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "unrotated re-keyed leg must serve")
    // restore the OPQ leg for the composition checks below
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true, opq = Some(true))
    // the two encoding modes COMPOSE: a residual + OPQ leg (rotation
    // trained on the residual space) carries both markers, serves
    // k-deep, survives a pure re-sync bit-identically, and its drift
    // monitor reads the rotated-residual space without error
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true,
      residual = Some(true), opq = Some(true))
    def resMarker(): Long = graft.streaming.StreamIO.readMarker(
      s"$dir/codebooks", "_residual", conf).getOrElse(0L)
    assert(rotMarker() == 1L && resMarker() == 1L)
    val composed = Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq
    assert(composed.nonEmpty)
    composed.groupBy(_.split(",")(0)).foreach { case (_, rows) =>
      assert(rows.length == 5, "k-deep per query on the composed leg")
    }
    Similarity.ivfPqIndexAdd(spark, dir) // pure re-sync
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq == composed)
    assert(Similarity.pqDriftFromIndex(spark, dir).collect().nonEmpty)
  }

  test("ann_ivfpq_residual_indexed: the residual leg serves identically " +
      "to the inline pipeline; the mode survives re-sync and a " +
      "maintenance rebuild; a contradicting re-sync refuses") {
    import org.apache.spark.sql.functions.col
    val inline = Similarity.annIvfPqResidual(spark, sf)
      .collect().map(_.toString).toSeq
    val indexed = Similarity.annIvfPqResidualIndexed(spark, sf)
      .collect().map(_.toString).toSeq
    assert(indexed == inline,
      "artifact-served residual IVFADC must equal the inline pipeline")

    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivfpq-res-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark, embs, dir)
    Similarity.ivfPqIndexAdd(spark, dir, residual = Some(true))
    def mode(): Long = graft.streaming.StreamIO.readMarker(
      s"$dir/codebooks", "_residual", conf).getOrElse(0L)
    assert(mode() == 1L, "the residual marker must pin the mode")
    val queries = embs.filter(col("vec_id") < 5)
    // the mode-aware serving default reads the marker and resolves
    // shortlistFactor = 4 on a residual leg — HALF the raw default's
    // exact-gather bill at the same recall (pq_shortlist_sweep_residual
    // prices residual f=4 == raw f=8)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
        .collect().map(_.toString).toSeq ==
      Similarity.annServeFromPqIndex(spark, dir, queries,
        shortlistFactor = 4).collect().map(_.toString).toSeq,
      "residual default must resolve shortlistFactor = 4")

    // fold a delta, then: a re-sync demanding the OTHER mode refuses
    // (codes from one space under another space's codebooks are
    // silently wrong), a plain re-sync keeps residual, and the folded
    // exact duplicates surface as top-1 THROUGH the residual ADC leg
    val dup = queries.select((col("vec_id") + 50000).as("vec_id"),
      col("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(dup, 0L, dir)
    assert(Similarity.ivfIndexCompact(spark, dir).contains(0L))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir, residual = Some(false))
    }
    Similarity.ivfPqIndexAdd(spark, dir)
    assert(mode() == 1L, "a re-sync must keep the residual mode")
    val top1 = Similarity.annServeFromPqIndex(spark, dir, queries)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 5L).foreach(q => assert(top1(q) == q + 50000,
      s"folded duplicate must rank first through the residual leg: $top1"))
    // the staleness monitor reads residual-space distortion: the folded
    // corpus is same-distribution, so nothing flags
    val drift = Similarity.pqDriftFromIndex(spark, dir).collect()
    assert(drift.nonEmpty && drift.forall(r =>
      !r.getBoolean(r.fieldIndex("is_stale"))),
      "same-distribution fold must not flag stale in residual space")

    // a shifted ingest trips the coarse monitor; ONE maintenance epoch
    // rebuilds the quantizer AND re-adds the leg in the SAME mode (the
    // swap drops the marker with codebooks/ — maintain captures it)
    val shifted = embs.select((col("vec_id") + 100000).as("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x + org.apache.spark.sql.functions.lit(0.5f)).as("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(shifted, 1L, dir)
    val m = graft.api.Graft.maintainIvfIndex(spark, dir)
    assert(m.rebuiltToVersion.isDefined,
      s"the shifted ingest must force a rebuild: $m")
    assert(m.pqRetrained, s"the rebuild epoch must re-add the leg: $m")
    assert(mode() == 1L,
      "the maintenance rebuild must restate the residual mode")
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "post-epoch residual serving must work")
    // a TORN codebook unit (the _residual marker lands last; its
    // absence means the (re)train crashed mid-unit) refuses at serve,
    // at the monitor, AND at a plain re-add — the encoding space is
    // unknown and must be restated, never guessed
    val (rfs, rp) = graft.streaming.StreamIO.fsFor(
      s"$dir/codebooks/_residual", conf)
    rfs.delete(rp, false)
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.pqDriftFromIndex(spark, dir).collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir)
    }
    // the documented recovery: a retrain that STATES its mode
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true,
      residual = Some(true))
    assert(mode() == 1L && Similarity.annServeFromPqIndex(spark, dir,
      queries).collect().nonEmpty,
      "a mode-stating retrain must recover the torn unit")
  }

  test("knn_edges_incremental: artifact + delta merge equals the full " +
      "cell equi-join rebuild over the combined corpus") {
    import org.apache.spark.sql.functions.col
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val delta = v.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("label"),
        col("embedding"))
    val got = Similarity.knnEdgesIncremental(spark, sf)
      .collect().map(_.toString).toSeq
    // independent reference: the full knnGraph pipeline over the
    // combined corpus written as its own embeddings table
    val tmp = graft.operators.ExportImport.scratch("knn-inc-combined")
    v.unionByName(delta).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val want = Similarity.knnGraph(spark, tmp).collect()
      .map(_.toString).toSeq
    assert(got.size == want.size && got == want,
      s"incremental merge must equal the rebuild (got ${got.size} vs " +
        s"${want.size} rows)")
    // the re-id'd copies are exact duplicates: each must sit at rank 1
    // of its original, mutually
    val top = Similarity.knnEdgesIncremental(spark, sf)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(top(0L) == 10000L && top(10000L) == 0L,
      s"duplicate pair must be mutual rank-1: ${top.get(0L)}, ${
        top.get(10000L)}")
  }

  test("pq_shortlist_sweep: recall monotone in the shortlist factor; " +
      "the default factor's row reproduces ann_pq's measured recall") {
    val rows = Similarity.pqShortlistSweep(spark, sf).collect()
      .map(r => (r.getAs[Int]("shortlist_factor"),
        r.getAs[Long]("n_rerank"), r.getAs[Double]("recall")))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8), "ordered by factor")
    assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3),
      s"recall must be monotone in the rerank budget: $rows")
    assert(rows.sliding(2).forall(p => p(0)._2 < p(1)._2),
      "the rerank bill must grow with the factor")
    // the factor-8 row IS ann_pq's operating point: same recall as the
    // measured pipeline vs brute truth
    val brute = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.annPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = math.round(
      (brute intersect pq).size.toDouble / brute.size * 10000) / 10000.0
    assert(rows.last._3 == want,
      s"factor-8 recall ${rows.last._3} must equal ann_pq's $want")
  }

  test("knn_triangles: coefficients bounded, consistent with the edge set") {
    val rows = Similarity.knnTriangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length ==
      Tables.load(spark, sf, "embeddings").count())
    rows.foreach { case (id, deg, tri, c4) =>
      assert(deg >= 0 && tri >= 0 && c4 >= 0.0 && c4 <= 1.0, s"node $id")
      // triangles cannot exceed the wedge count C(deg, 2)
      assert(tri <= deg * (deg - 1) / 2, s"node $id: tri $tri deg $deg")
      if (deg < 2) assert(tri == 0 && c4 == 0.0)
      else assert(c4 == math.round(2.0 * tri / (deg * (deg - 1)) * 10000)
        / 10000.0)
    }
    // hand-check one node against the raw mutual edge list
    import org.apache.spark.sql.functions.col
    val mutual = spark.read.parquet(
        Similarity.sharedKnnEdgesDir(spark, sf))
      .filter(col("mutual") && col("src") < col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val someNode = rows.filter(_._2 >= 2).head._1
    val nbrs = mutual.collect {
      case (a, b) if a == someNode => b
      case (a, b) if b == someNode => a
    }
    val triHand = (for {
      u <- nbrs; w <- nbrs if u < w
      if mutual.contains((u min w, u max w))
    } yield 1).size
    assert(rows.find(_._1 == someNode).get._3 == triHand.toLong)
  }

  test("knn_communities: members partition the corpus, purity bounded") {
    val rows = Similarity.knnCommunities(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_members")).sum
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(total == n, s"members $total must partition the $n vectors")
    rows.foreach { r =>
      val p = r.getAs[Double]("purity4")
      assert(p > 0.0 && p <= 1.0, r)
      assert(r.getAs[Long]("n_labels") >= 1)
      // purity * members >= members/n_labels (majority is at least avg)
      assert(p * r.getAs[Long]("n_members") + 1e-9 >=
        r.getAs[Long]("n_members").toDouble / r.getAs[Long]("n_labels"), r)
    }
  }

  test("ivf_probe_sweep: recall and cost rise monotonically to full recall") {
    val rows = Similarity.ivfProbeSweep(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1 to rows.length))
    // recall and candidate volume are monotone in nProbe
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3 + 1e-12, s"recall must not drop: $a -> $b")
      assert(a._5 <= b._5, s"candidates must not drop: $a -> $b")
    }
    // probing every cell scores the whole corpus → recall 1.0 and
    // candidates = nQueries·(N−1)
    val full = rows.last
    assert(full._4 == 1.0, full)
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(full._5 == 10L * (n - 1), s"${full._5} vs ${10L * (n - 1)}")
  }

  test("embedding_pca: recovers a planted dominant direction exactly") {
    import spark.implicits._
    // points on the line t·(0.6, 0.8, 0, 0): ALL variance lies along
    // that unit direction, so pc1 = ±(0.6, 0.8, 0, 0) and ev_share = 1
    val vecs = Seq(-2f, -1f, 0f, 1f, 2f).zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(0.6f * t, 0.8f * t, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val r = Similarity.embeddingPcaFrom(vecs).collect()
    assert(r.length == 4)
    val byPos = r.map(x => x.getInt(0) ->
      (x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    // means are zero, loadings are the planted direction (sign pinned
    // to the first significant loading)
    assert(byPos.values.forall(_._1 == 0.0), byPos)
    assert(byPos(0)._2 == 0.6 && byPos(1)._2 == 0.8, byPos)
    assert(byPos(2)._2 == 0.0 && byPos(3)._2 == 0.0, byPos)
    // per-dim variance: E[t²]·0.36 and ·0.64 with E[t²] = 2
    assert(math.abs(byPos(0)._3 - 0.72) < 1e-6, byPos)
    assert(math.abs(byPos(1)._3 - 1.28) < 1e-6, byPos)
    // the component explains everything
    assert(byPos.values.forall(v => math.abs(v._4 - 1.0) < 1e-6), byPos)
    // deterministic under repartitioning (quantized model state)
    val again = Similarity.embeddingPcaFrom(vecs.repartition(3)).collect()
      .map(x => (x.getInt(0), x.getDouble(2))).toMap
    assert(again == byPos.map { case (k, v) => k -> v._2 })
  }

  test("embedding_whiten: planted dominant direction collapses to ~0 " +
      "anisotropy; transform and report agree; fixture invariants hold") {
    import spark.implicits._
    // planted bias: every vector = t·(0.6, 0.8, 0, 0) + small noise on
    // the other dims → before: high mean |cos| to pc1 and ev_share ≈ 1;
    // after: both ≈ 0 (up to the component's 1e-6 quantization)
    val vecs = Seq(-2f, -1f, 0f, 1f, 2f).zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(0.6f * t, 0.8f * t, 0.01f * i, 0.02f * (i % 2)))
    }.toDF("vec_id", "embedding")
    val rep = Similarity.embeddingWhitenFrom(vecs).collect().head
    assert(rep.getLong(0) == 5L)
    // 4 of the 5 vectors lie along the planted direction (|cos| ~1);
    // the t=0 vector is noise-dominated (|cos| ~0) -> mean ~0.8
    assert(rep.getDouble(1) > 0.75, s"planted bias must dominate: $rep")
    assert(rep.getDouble(2) < 0.01, s"whitened anisotropy ~0: $rep")
    assert(rep.getDouble(3) > 0.99 && rep.getDouble(4) < 1e-4, rep.toString)
    assert(rep.getDouble(6) < rep.getDouble(5),
      "removing the top direction must remove variance")
    // the transform itself: whitened vectors are orthogonal to pc up
    // to the 1e-6 quantization, and re-whitening is a no-op direction
    val (mu, pc) = Similarity.trainWhitening(vecs)
    val w = Similarity.whitenVectors(vecs, mu, pc)
    val pcArr = org.apache.spark.sql.functions.array(pc.map(
      org.apache.spark.sql.functions.lit): _*)
    val resid = w.select(graft.functions.VectorFunctions
      .dot(org.apache.spark.sql.functions.col("embedding"), pcArr)
      .as("r")).collect().map(_.getDouble(0))
    assert(resid.forall(r => math.abs(r) < 1e-4),
      s"whitened vectors must be ~orthogonal to pc: ${resid.toSeq}")
    // fixture: report invariants on the real corpus
    val fx = Similarity.embeddingWhiten(spark, sf).collect().head
    assert(fx.getDouble(2) <= fx.getDouble(1) + 1e-9)
    assert(fx.getDouble(4) <= fx.getDouble(3) + 1e-9)
    assert(fx.getDouble(6) <= fx.getDouble(5) + 1e-9)
    assert(fx.getDouble(4) < 1e-4, s"post-whitening ev share ~0: $fx")
  }

  test("ann_ivf_whitened_indexed: artifact serving equals the hand-wired " +
      "transform pipeline; the _whiten marker refuses every raw-space path") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-whiten-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    Similarity.ivfWhitenIndexToDir(spark, sf, dir)
    val raw = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = raw.filter(col("vec_id") < 10)
    val served = Similarity.annServeWhitenedFromIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq
    // hand-wired: the exact pipeline the artifact spares a caller —
    // stored model + stored centroids, transform and probe inline
    val (mu, pc) = Similarity.readWhitenModel(spark, dir)
    val cents = Similarity.readIvfCentroids(spark, dir)
    def whitened(df: org.apache.spark.sql.DataFrame) =
      Similarity.whitenVectors(df, mu, pc).withColumn("nrm",
        graft.functions.VectorFunctions.l2norm(col("embedding")))
    val live = Similarity
      .ivfServe(whitened(raw), whitened(queries), cents, 4, 5)
      .collect().map(_.toString).toSeq
    assert(served == live && served.nonEmpty,
      "artifact round-trip must not change a single ranked row")
    // every raw-space entry refuses the whitened artifact loudly
    Seq[(String, () => Any)](
      "serve" -> (() =>
        Similarity.annServeFromIndex(spark, dir, queries).collect()),
      "sq8-serve" -> (() =>
        Similarity.annServeSq8FromIndex(spark, dir, queries).collect()),
      "mmr" -> (() =>
        Similarity.annMmrFromIndex(spark, dir, queries).collect()),
      "mmr-sq8" -> (() =>
        Similarity.annMmrSq8FromIndex(spark, dir, queries).collect()),
      "pq-serve" -> (() =>
        Similarity.annServeFromPqIndex(spark, dir, queries).collect()),
      "mmr-pq" -> (() =>
        Similarity.annMmrPqFromIndex(spark, dir, queries).collect()),
      "append" -> (() => Similarity.ivfIndexAppend(spark, dir, queries)),
      "pq-leg" -> (() => Similarity.ivfPqIndexAdd(spark, dir)),
      "rebuild" -> (() => Similarity.ivfIndexRebuild(spark, dir))
    ).foreach { case (name, f) =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("_whiten"), s"$name: ${e.getMessage}")
    }
    // ... and the whitened serve refuses a raw artifact
    val rawDir = graft.operators.ExportImport.scratch("ivf-raw-vs-whiten")
    graft.streaming.StreamIO.deleteRecursively(rawDir, conf)
    Similarity.ivfIndexToDir(spark, sf, rawDir)
    val e = intercept[IllegalArgumentException](
      Similarity.annServeWhitenedFromIndex(spark, rawDir, queries))
    assert(e.getMessage.contains("_whiten"), e.getMessage)
  }

  test("ivfWhitenIndexAppend: a raw delta whitened with the STORED model " +
      "serves identically to combined assignment under the same models") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val isDelta = col("vec_id") % 5 === 0
    val dir = graft.operators.ExportImport.scratch("ivf-whiten-inc")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    Similarity.ivfWhitenIndexBuild(spark, raw.filter(!isDelta), dir)
    Similarity.ivfWhitenIndexAppend(spark, dir, raw.filter(isDelta))
    val queries = raw.filter(col("vec_id") < 10)
    val appended = Similarity.annServeWhitenedFromIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq
    // truth: the artifact's own (base-trained, versioned) model over
    // the COMBINED set — the transform travels with the index, so a
    // delta never re-fits it (the quantizer-append doctrine one
    // transform earlier)
    val (mu, pc) = Similarity.readWhitenModel(spark, dir)
    val cents = Similarity.readIvfCentroids(spark, dir)
    def whitened(df: org.apache.spark.sql.DataFrame) =
      Similarity.whitenVectors(df, mu, pc).withColumn("nrm",
        graft.functions.VectorFunctions.l2norm(col("embedding")))
    val truth = Similarity
      .ivfServe(whitened(raw), whitened(queries), cents, 4, 5)
      .collect().map(_.toString).toSeq
    assert(appended == truth,
      "append must serve identically to combined assignment under the " +
        "stored model")
  }

  test("embedding_class_stats: partitions the corpus, cosines bounded") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.embeddingClassStats(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ==
      Tables.load(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val (cn, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(cn > 0.0 && cn <= 1.0 + 1e-9, s"unit-vector centroid norm: $r")
      assert(lo <= hi && lo >= -1.0001 && hi <= 1.0001, s"cos bounds: $r")
    }
    // the centroid side is model state: its join back is a broadcast,
    // never a corpus-sized shuffle
    val plan = Similarity.embeddingClassStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("embedding_outliers: planted flip flagged; fixture counts coherent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 9 near-identical members + 1 flipped vector: the flip sits far
    // below the label's own cosine distribution and must be the one
    // outlier (cosine ≈ -1 vs the fence from a tight ≈ +1 cluster)
    val base = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val flip = Array(-1.0f, 0.0f, 0.0f, 0.0f)
    val vecs = (1 to 9).map(i =>
      (i.toLong, Array(1.0f, 0.001f * i, 0.0f, 0.0f), "t")) :+
      ((10L, flip, "t"))
    val planted = vecs.toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingOutliersFrom(planted).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_vecs") == 10L)
    assert(r.head.getAs[Long]("n_outliers") == 1L, r.head.toString)
    assert(r.head.getAs[Long]("min_out_c4") < -9000L, r.head.toString)
    val _ = base
    // fixture: every label's fences ordered, outliers a strict subset
    val rows = Similarity.embeddingOutliers(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.load(spark, sf, "embeddings").count())
    rows.foreach { row =>
      assert(row.getAs[Long]("q1_c4") <= row.getAs[Long]("q3_c4"), row)
      assert(row.getAs[Long]("n_outliers") < row.getAs[Long]("n_vecs"), row)
    }
  }

  test("pqDriftFromIndex: a re-synced (drifted, folded) PQ leg stays " +
      "marker-consistent but flags is_stale; retrain restores the " +
      "trained-fit distortion and re-pins the baseline") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("pq-drift-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    Similarity.ivfIndexBuild(spark, base, dir)
    Similarity.ivfPqIndexAdd(spark, dir) // trains + pins pq_baseline/
    val baseline0 = spark.read.parquet(s"$dir/pq_baseline")
      .collect().map(_.toString).toSeq.sorted
    // freshly trained: the monitor reads the trained fit (ratio ≈ 1)
    assert(Similarity.pqDriftFromIndex(spark, dir).collect()
      .forall(r => !r.getAs[Boolean]("is_stale")
        && r.getAs[Double]("ratio4") < 1.2),
      "a just-trained leg must not flag")
    // drifted ingest, folded, re-synced: the exact silent-degradation
    // path pq_drift exists to price — `_synced_to` passes, serving
    // works, and the shortlist quality is the only casualty
    val delta = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(delta, 0L, dir)
    assert(Similarity.ivfIndexCompact(spark, dir).contains(0L))
    Similarity.ivfPqIndexAdd(spark, dir) // re-sync: REUSES codebooks
    assert(Similarity.annServeFromPqIndex(spark, dir,
      embs.filter(col("vec_id") < 3)).collect().nonEmpty,
      "the re-synced leg must serve (marker-consistent)")
    assert(spark.read.parquet(s"$dir/pq_baseline")
        .collect().map(_.toString).toSeq.sorted == baseline0,
      "a re-sync must NOT re-pin the baseline (the drift_baseline " +
        "lesson one level down)")
    val stale = Similarity.pqDriftFromIndex(spark, dir).collect()
    assert(stale.forall(_.getAs[Boolean]("is_stale")),
      s"every sub-space must flag after the drifted fold: ${
        stale.mkString("; ")}")
    // the retrain action: codebooks re-fit the CURRENT base, codes
    // re-encoded, baseline re-pinned — distortion back to trained fit
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true)
    val post = Similarity.pqDriftFromIndex(spark, dir).collect()
    assert(post.forall(r => !r.getAs[Boolean]("is_stale")
      && r.getAs[Double]("ratio4") < 1.2),
      s"retrained codebooks must restore the fit: ${post.mkString("; ")}")
    assert(spark.read.parquet(s"$dir/pq_baseline")
        .collect().map(_.toString).toSeq.sorted != baseline0,
      "the retrain must re-pin the baseline")
    assert(Similarity.annServeFromPqIndex(spark, dir,
      embs.filter(col("vec_id") < 3)).collect().nonEmpty,
      "the retrained leg must serve")
  }

  test("maintainIvfIndex: one call runs the whole cadence — fold, PQ " +
      "re-sync, drift check, rebuild + re-add on shift — in the safe " +
      "order") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivf-maintain-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    Similarity.ivfIndexBuild(spark, base, dir)
    Similarity.ivfPqIndexAdd(spark, dir)
    val queries = embs.filter(col("vec_id") < 3)
    // epoch 1: same-distribution ingest — the call folds, re-syncs the
    // scan table, and the monitors stay quiet
    val stable = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(stable, 0L, dir)
    val r1 = graft.api.Graft.maintainIvfIndex(spark, dir)
    assert(r1.compactedThrough.contains(0L), r1.toString)
    assert(r1.pqResynced, r1.toString)
    assert(r1.rebuiltToVersion.isEmpty && !r1.pqRetrained, r1.toString)
    assert(r1.pqMaxRatio.exists(_ < 1.5), r1.toString)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "ADC serving must work right after epoch 1")
    // epoch 2: shifted ingest — the call must fold it, see the PSI
    // shift, rebuild (bumped version), and re-add the PQ leg under the
    // new quantizer so ADC serving works with no manual step
    val shifted = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 20000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    graft.streaming.StreamIvfIndex.applyBatch(shifted, 1L, dir)
    val r2 = graft.api.Graft.maintainIvfIndex(spark, dir)
    assert(r2.rebuiltToVersion.contains(2L),
      s"shifted ingest must force the rebuild: $r2")
    assert(r2.pqRetrained, s"the rebuild must re-add the PQ leg: $r2")
    assert(graft.api.Graft.ivfQuantizerVersion(spark, dir).contains(2L))
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty, "ADC serving must work right after epoch 2")
    // both monitors restart clean on the re-pinned baselines
    assert(Similarity.ivfDriftFromIndex(spark, dir).collect()
      .forall(r => r.getAs[Double]("psi4") == 0.0
        && !r.getAs[Boolean]("is_shifted")),
      "post-rebuild coarse monitor must read PSI = 0")
    assert(Similarity.pqDriftFromIndex(spark, dir).collect()
      .forall(r => !r.getAs[Boolean]("is_stale")),
      "post-rebuild PQ monitor must read the trained fit")
    // epoch 3: nothing to do — the call reports exactly that
    val r3 = graft.api.Graft.maintainIvfIndex(spark, dir)
    assert(r3.compactedThrough.isEmpty && !r3.pqResynced
      && r3.rebuiltToVersion.isEmpty && !r3.pqRetrained, r3.toString)
  }

  test("legacy pre-marker PQ leg (no _residual marker AND no " +
      "pq_baseline) reads as raw, serves, and one maintenance epoch " +
      "migrates it to the marked layout; a torn unit still refuses") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = graft.operators.ExportImport.scratch("ivfpq-legacy-spec")
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfIndexBuild(spark, embs, dir)
    Similarity.ivfPqIndexAdd(spark, dir) // raw leg, marked layout
    val queries = embs.filter(col("vec_id") < 3)
    val marked = Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq
    // the mode-aware default resolves 8 on a RAW leg — identical to
    // the explicit call (the residual half is pinned in the residual
    // spec; explicit callers are untouched by the default)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries,
        shortlistFactor = 8).collect().map(_.toString).toSeq == marked,
      "raw default must resolve shortlistFactor = 8")
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries,
        shortlistFactor = -2)
    }
    // strip the artifact down to the legacy layout: the unit pieces
    // the pre-marker format never wrote
    val (rfs, rp) = graft.streaming.StreamIO.fsFor(
      s"$dir/codebooks/_residual", conf)
    rfs.delete(rp, false)
    graft.streaming.StreamIO.deleteRecursively(s"$dir/pq_baseline", conf)
    // legacy is raw BY CONSTRUCTION, not a guess: serving works and
    // returns exactly what the marked raw leg served
    assert(Similarity.readResidualMode(spark, dir) == false)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().map(_.toString).toSeq == marked,
      "a legacy leg must serve as the raw leg it is")
    // ONE maintenance epoch migrates: retrains raw, re-pins the
    // baseline, and lands the marker — the monitors start from here
    val m = graft.api.Graft.maintainIvfIndex(spark, dir)
    assert(m.pqRetrained, s"the legacy leg must migrate via retrain: $m")
    assert(graft.streaming.StreamIO.readMarker(
      s"$dir/codebooks", "_residual", conf).contains(0L),
      "migration must land the raw marker")
    assert(Similarity.pqDriftFromIndex(spark, dir).collect()
      .forall(r => !r.getAs[Boolean]("is_stale")),
      "the migrated leg must carry a fresh baseline")
    // and the torn case stays torn: marker gone with the baseline
    // PRESENT is a crashed (re)train, not a legacy layout
    rfs.delete(rp, false)
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, queries).collect()
    }
    // torn FIRST train: marker AND baseline AND codes/_synced_to all
    // absent is a crash mid-write, NOT legacy — the mode read must
    // refuse, or a bare re-sync would guess raw, re-encode, repair
    // _synced_to, and launder a torn residual train into a
    // consistent-looking silently-wrong raw leg
    graft.streaming.StreamIO.deleteRecursively(s"$dir/pq_baseline", conf)
    val (sfs, sp) = graft.streaming.StreamIO.fsFor(
      s"$dir/codes/_synced_to", conf)
    sfs.delete(sp, false)
    intercept[IllegalArgumentException] {
      Similarity.readResidualMode(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAdd(spark, dir) // the re-sync laundering path
    }
    // the stated-mode retrain is the recovery — it rebuilds the unit
    Similarity.ivfPqIndexAdd(spark, dir, retrain = true,
      residual = Some(false))
    assert(Similarity.readResidualMode(spark, dir) == false)
    assert(Similarity.annServeFromPqIndex(spark, dir, queries)
      .collect().nonEmpty)
  }

  test("knnEdgesIncrementalFrom: refuses a smaller-k or rounded-score " +
      "base state instead of silently returning a truncated graph") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val delta = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val k3State = Similarity.mutualFull(
      Similarity.knnEdgesFullFrom(base, 3))
    // k' = 3 state cannot supply ranks 4..5 for existing nodes
    intercept[IllegalArgumentException] {
      Similarity.knnEdgesIncrementalFrom(base, k3State, delta, k = 5)
    }
    // the same state merges fine at k ≤ k'
    val merged = Similarity.knnEdgesIncrementalFrom(base, k3State, delta,
      k = 3)
    assert(merged.columns.toSeq ==
      Seq("src_id", "dst_id", "rnk", "cos6", "mutual"))
    assert(merged.count() > 0)
    // the method's own OUTPUT (cos6-rounded, src_id/dst_id) is not
    // valid merge state — chaining it would re-rank rounded scores
    intercept[IllegalArgumentException] {
      Similarity.knnEdgesIncrementalFrom(base, merged, delta, k = 3)
    }
  }
}
