package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Embedding similarity: near-dup pairs and approximate-nearest-neighbor
  * search over the `embeddings` table (`array<float>`, 64-dim).
  *
  * Scale shapes:
  *  - near-dup (#25) blocks on an equi-join key (label) — at 100 TB the
  *    block key is an LSH bucket or a coarse quantizer cell; the plan
  *    shape (bounded blocks → pairs within block) is identical;
  *  - brute-force ANN (#26) broadcasts the (small) query set and scans
  *    candidates linearly — the correct brute-force baseline at any
  *    scale: one pass, per-partition top-k, tiny final merge;
  *  - LSH ANN (#27) buckets by random-hyperplane signature bands so each
  *    query only scores candidates sharing a band.
  */
object Similarity {

  /** vec_id + embedding + precomputed L2 norm (map-only). */
  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))

  /** §2 #25 — embedding-cosine near-dup pairs within label blocks. */
  def embeddingDedup(spark: SparkSession, sfDir: String,
                     tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val a = v.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = v.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        cosineWithNorms(dot(col("e_a"), col("e_b")), col("n_a"), col("n_b"))
          .as("cos"))
      .filter(col("cos") >= tau)
      .select(col("label"), col("id_a"), col("id_b"),
        round(col("cos"), 6).as("cos6"))
      .orderBy("id_a", "id_b")
  }

  /** §2 #26 — brute-force cosine top-k: the exact baseline every ANN
    * variant is measured against. Query set broadcast; candidates
    * scanned once; ranking via the bounded [[graft.functions.TopKByScore]]
    * aggregate — partial top-k per map partition, so the exchange moves
    * at most k rows per (query, partition) instead of shuffling the
    * whole N×Q scored set into a window sort. */
  def annBruteforce(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    rankTopK(candidates(candVecs(v),
      queryVecs(v.filter(col("vec_id") < nQueries)), exactCos), k)
  }

  /** §2 #117 — k-NN GRAPH build: every vector's top-k cosine neighbors
    * plus the MUTUAL flag (edge (a,b) is mutual iff b also ranks a) —
    * the input structure for graph-based clustering and SemDeDup-style
    * community pruning, where mutual edges are the high-precision
    * subset. Scoring is EXACT (every pair, full-probe cell join — see
    * the body note); dropping `nProbe` below the cell count swaps in
    * the ANN approximation ([[knnGraphAnn]]) unchanged above the
    * ranking, exactly like [[hardNegatives]]. The mutual flag is ONE
    * self-equi-join of the (already ≤ N×k row) edge list on the
    * reversed key. */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    // EXACT scoring routed through the cell equi-join: assignment puts
    // every candidate in exactly ONE cell and each query probes ALL
    // cells, so each ordered pair is scored exactly once — the output
    // is the brute graph bit-for-bit (same cosine expression, same
    // bounded ranking), but the plan co-partitions two corpus-sized
    // sides on cell with NO broadcast anywhere. Exact k-NN is O(N²)
    // compute however it is executed; this shape is the one that still
    // EXECUTES at 100 TB of vectors, where a corpus-sided broadcast
    // build cannot. [[knnGraphBrute]] keeps the one-join broadcast form
    // as the spec's small-SF equality witness.
    knnGraphAnn(spark, sfDir, nProbe = staticCentroids().length, k)

  /** The broadcast brute-force graph build: exact same output as
    * [[knnGraph]] (SimilaritySpec asserts equality), usable when the
    * corpus fits a broadcast — i.e. as a small-sample witness, never as
    * the corpus-scale plan. */
  private[graft] def knnGraphBrute(spark: SparkSession, sfDir: String,
                                   k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    mutualFlag(rankTopK(candidates(candVecs(v), queryVecs(v), exactCos), k))
  }

  /** Mutual-edge decoration shared by the graph builds: ONE
    * self-equi-join of the (≤ N×k row) edge list on the reversed key. */
  private def mutualFlag(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("rev"))
    edges.join(rev, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id").as("src_id"), col("neighbor_id").as("dst_id"),
        col("rnk"), col("cos6"),
        coalesce(col("rev"), lit(false)).as("mutual"))
      .orderBy("src_id", "rnk")
  }

  /** §2 #117b — k-NN GRAPH on the ANN PATH: [[knnGraph]]'s output shape
    * built through the static-quantizer IVF probe instead of the N²
    * broadcast — every vector is a query probing its `nProbe` nearest
    * cells, candidates come from a cell equi-join (a SHUFFLE join of
    * two corpus-sized sides co-partitioned on cell — no broadcast
    * assumption anywhere, which is the only shape that survives 100 TB
    * of vectors), ranking/mutual-flag identical to the brute build.
    * Scoring work is ~nProbe/nCells of brute; recall vs the exact
    * graph is asserted by SimilaritySpec and the static quantizer
    * keeps the whole pipeline SQL-replayable for the oracle. */
  def knnGraphAnn(spark: SparkSession, sfDir: String, nProbe: Int = 6,
                  k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = staticCentroids()
    // SALTED cell join (guide §2.5): the join key has only nCells
    // distinct values, so the pair-scoring stage — whose cost is pair
    // COMPUTE, not shuffle bytes (AQE coalesces it by bytes down to a
    // handful of tasks) — was capped at nCells-way parallelism on any
    // cluster. Each candidate lands in ONE deterministic sub-bucket
    // (hash of its id), every probe visits all sub-buckets of its
    // probed cells: the scored pair set is IDENTICAL, spread over
    // nCells × nSalts partitions. nSalts derives from the session's
    // parallelism (scale-adaptive, never a constant).
    val nSalts = math.max(1,
      2 * v.sparkSession.sparkContext.defaultParallelism / cents.length)
    val assigned = ivfLists(v, cents)
      .withColumn("salt",
        pmod(xxhash64(col("neighbor_id")), lit(nSalts.toLong)).cast("int"))
    val probes = probeFrame(v, cents, nProbe)
      .withColumn("salt",
        explode(typedLit(List.range(0, nSalts))))
    // explicit partition count: AQE's BYTE-based coalescing would fold
    // this exchange to a handful of tasks (the shuffle is MBs while the
    // stage cost is the quadratic pair compute) — user-specified
    // repartition counts are exempt from coalescing, and both sides
    // sharing key+count means the join adds no further exchange
    val parts = cents.length * nSalts
    mutualFlag(rankTopK(
      assigned.repartition(parts, col("cell"), col("salt"))
        .join(probes.repartition(parts, col("cell"), col("salt")),
          Seq("cell", "salt"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          exactCos.as("cos")), k))
  }

  /** DuckDB oracle for [[knnGraphAnn]]: static centroids inlined,
    * assignment/probing/ranking replayed (the [[ivfStaticOracle]]
    * machinery with every vector as a query) plus the mutual
    * self-join. */
  def knnGraphAnnOracle(nProbe: Int = 6, k: Int = 5): String = {
    val centRows = staticCentroids().zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c),
        assigned AS (SELECT cell, vec_id AS neighbor_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                     nrm AS n_q FROM ranked WHERE crnk <= $nProbe),
        e AS (
          SELECT query_id, neighbor_id, rnk, cos FROM (
            SELECT p.query_id, a.neighbor_id,
              ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) AS cos,
              CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) DESC,
                a.neighbor_id) AS INTEGER) AS rnk
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE p.query_id <> a.neighbor_id)
          WHERE rnk <= $k)
        SELECT e.query_id AS src_id, e.neighbor_id AS dst_id, e.rnk AS rnk,
               round(e.cos, 6) AS cos6, (r.query_id IS NOT NULL) AS mutual
        FROM e LEFT JOIN e r ON r.query_id = e.neighbor_id
                            AND r.neighbor_id = e.query_id
        ORDER BY src_id, e.rnk"""
  }

  /** §2 #136 — LABEL SPREAD: semi-supervised label propagation from a
    * seed registry — every unlabeled vector takes the MAJORITY label of
    * its k nearest seeds (cosine; vote ties break on the smaller
    * label), evaluated against the held-back true labels per class.
    * This is how a small curated label set (here: every 5th vector)
    * fans out over a 100 TB embedding corpus — domain tagging, quality
    * tiers, language families — without a trained classifier.
    *
    * Scale shape: the SEED side is the small curated set and is
    * broadcast; the corpus side streams map-only through scoring into
    * the bounded [[graft.functions.TopKByScoreAgg]] per-query
    * aggregate. Votes and the per-class evaluation are two further
    * ≤ N×k hash aggregates. No N² pair ever materializes, no window
    * over the corpus. */
  def labelSpread(spark: SparkSession, sfDir: String, k: Int = 5,
                  seedMod: Int = 5): DataFrame =
    labelSpreadFrom(vectors(spark, sfDir), k, seedMod)

  /** Generic core over ANY (vec_id, label, embedding, nrm) frame. */
  def labelSpreadFrom(v: DataFrame, k: Int, seedMod: Int): DataFrame = {
    val seeds = v.filter(col("vec_id") % seedMod === 0)
    val queries = v.filter(col("vec_id") % seedMod =!= 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cands = seeds.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    val edges = rankTopK(queries.join(broadcast(cands))
      .select(col("query_id"), col("neighbor_id"),
        exactCos.as("cos")), k)
    val seedLabels = seeds.select(col("vec_id").as("neighbor_id"),
      col("label").as("nb_label"))
    val pred = edges.join(broadcast(seedLabels), "neighbor_id")
      .groupBy("query_id", "nb_label").agg(count(lit(1)).as("c"))
      .groupBy("query_id")
      .agg(min(struct((-col("c")).as("nc"), col("nb_label").as("lbl")))
        .as("b"))
      .select(col("query_id"), col("b.lbl").as("pred_label"))
    val seedCounts = seeds.groupBy(col("label")).agg(count(lit(1)).as("n_seed"))
    queries.select(col("query_id"), col("true_label"))
      .join(pred, "query_id")
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .join(seedCounts, "label")
      .select(col("label"), col("n_seed"), col("n_eval"), col("n_correct"),
        round(col("n_correct") / col("n_eval").cast("double"), 4).as("acc4"))
      .orderBy("label")
  }

  /** DuckDB oracle for [[labelSpread]]: the same rank/vote/argmax
    * chain replayed with window functions. */
  def labelSpreadOracle(k: Int = 5, seedMod: Int = 5): String = {
    s"""WITH n AS (SELECT vec_id, label, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        sd AS (SELECT * FROM n WHERE vec_id % $seedMod = 0),
        qs AS (SELECT * FROM n WHERE vec_id % $seedMod <> 0),
        e AS (SELECT query_id, nb_label FROM (
            SELECT q.vec_id AS query_id, s.label AS nb_label,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "s.embedding")} / (q.nrm * s.nrm) DESC,
                s.vec_id) AS rnk
            FROM qs q JOIN sd s ON true)
          WHERE rnk <= $k),
        votes AS (SELECT query_id, nb_label, count(*) AS c
                  FROM e GROUP BY 1, 2),
        pred AS (SELECT query_id, nb_label AS pred_label FROM (
            SELECT query_id, nb_label, row_number() OVER (
              PARTITION BY query_id ORDER BY c DESC, nb_label) AS vr
            FROM votes) WHERE vr = 1),
        ev AS (SELECT q.label AS label,
                 count(*) AS n_eval,
                 CAST(sum(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct
               FROM qs q JOIN pred p ON p.query_id = q.vec_id
               GROUP BY 1),
        sc AS (SELECT label, count(*) AS n_seed FROM sd GROUP BY 1)
       SELECT label, n_seed, n_eval, n_correct,
              round(n_correct / CAST(n_eval AS DOUBLE), 4) AS acc4
       FROM ev JOIN sc USING (label) ORDER BY label"""
  }

  /** §2 #119 — ANN RECALL evaluation: recall@k of the two fully
    * deterministic index paths (static-quantizer IVF, static-plane
    * LSH) against the exact brute-force truth — the eval that decides
    * nCells/nProbe/band geometry BEFORE an index is built over 100 TB
    * of vectors ([[Dedup.dedupEval]]'s stance applied to similarity
    * search; the trained paths share the same plan shapes, so the
    * static variants' recall is the representative measurement the
    * oracle can replay exactly). Output: one row per variant with
    * truth/hit counts and recall@k.
    *
    * Scale shape: three already-proven pipelines (each bounded
    * TopKByScore), then joins of ≤ nQueries×k edge lists — at corpus
    * scale the eval runs on a query SAMPLE, which the per-variant
    * 1-row output makes cheap to sweep across geometries. */
  def annRecallEval(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val key = Seq("query_id", "neighbor_id")
    // persisted + eager: the concurrent variant branches below all scan
    // the O(N²) truth (Branches scaladoc)
    val truth = TransientCaches.register(
      annBruteforce(spark, sfDir, nQueries, k)
        .select(key.head, key.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    truth.count()
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    // independent 1-row rungs — concurrent branch jobs (Branches
    // scaladoc; same rows as the sequential union)
    Branches.unionAllConcurrent(Seq(
        one("ann_ivf_static",
          annIvfStatic(spark, sfDir, nQueries = nQueries, k = k)),
        one("ann_lsh", annLsh(spark, sfDir, nQueries = nQueries, k = k)),
        one("ann_sign_sketch",
          annSignSketch(spark, sfDir, nQueries = nQueries, k = k))))
      .orderBy("variant")
  }

  /** §2 #181 — IVF PROBE SWEEP: recall@k AND candidate volume per
    * nProbe setting of the static quantizer — the tuning table that
    * plans the IVF cost/recall knob the way lsh_plan plans banding
    * (ann_recall_eval scores variants at ONE setting; this sweeps the
    * setting). One row per nProbe: how much of the brute truth the
    * probe reaches, and how many candidate pairs it pays for.
    *
    * Scale shape: the swept pipelines are the proven bounded-TopK IVF
    * serves over a query SAMPLE; candidate volume needs no join of
    * vectors at all — probed cells join the |cells|-row population
    * table. Each sweep row is a pair of 1-row aggregates. */
  def ivfProbeSweep(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    val cents = staticCentroids()
    val v = vectors(spark, sfDir)
    // CONCURRENT BRANCH JOBS (r20 opt, guide §2.6 / VERDICT-r19 #4):
    // the 16 per-probe branches are independent 1-row aggregates, but a
    // single union action ran them as ~90 SEQUENTIAL single-task AQE
    // stage-jobs — mostly idle cores at any parallelism. Each branch is
    // now submitted as its own job from a small driver thread pool so a
    // branch's tail back-fills the scheduler with the next branch's
    // tasks. With separate jobs the old single-action ReusedExchange
    // sharing of the truth subplan no longer applies, so the shared
    // frames (brute truth, cell populations) are persisted once —
    // bounded model-state tables, freed at the session boundary. The
    // branches therefore execute at construction time (the mmrRerank
    // eager-boundary doctrine) and the returned frame is their rows.
    // Row content and schema are UNCHANGED (same branch plans, same
    // values — each branch is deterministic).
    import org.apache.spark.storage.StorageLevel
    val truth = graft.operators.TransientCaches.register(
      annBruteforce(spark, sfDir, nQueries, k)
        .select(col("query_id"), col("neighbor_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    truth.count()
    val key = Seq("query_id", "neighbor_id")
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    val cellCounts = graft.operators.TransientCaches.register(v
      .select(cellOf(cents))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    cellCounts.count()
    def branch(p: Int): DataFrame = {
      val edges = annIvfWith(v, cents, p, nQueries, k)
        .select(key.head, key.tail: _*)
      val probes = v.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), explode(cellsOf(p)).as("cell"))
      // each query's own vector sits in its probed top cell — subtract
      val nCand = probes.join(cellCounts, Seq("cell"))
        .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
      val hits = edges.join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .crossJoin(nCand)
        .select(lit(p).as("n_probe"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"),
          col("n_candidates"))
    }
    graft.operators.Branches
      .unionAllConcurrent((1 to cents.length).map(branch))
      .orderBy("n_probe")
  }

  /** DuckDB oracle for [[ivfProbeSweep]]: the static-IVF CTE machinery
    * with one branch per probe setting, all off shared CTEs. */
  def ivfProbeSweepOracle(nQueries: Int = 10, k: Int = 5): String = {
    val cents = staticCentroids()
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val pers = (1 to cents.length).map { p =>
      s"""SELECT $p AS n_probe,
           (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*)
            FROM (SELECT pr.query_id, a.neighbor_id,
                    row_number() OVER (PARTITION BY pr.query_id ORDER BY
                      ${dotSql("pr.e_q", "a.e_c")} / (pr.n_q * a.n_c) DESC,
                      a.neighbor_id) AS rnk
                  FROM (SELECT cell, vec_id AS query_id, embedding AS e_q,
                          nrm AS n_q
                        FROM ranked
                        WHERE crnk <= $p AND vec_id < $nQueries) pr
                  JOIN assigned a ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id) i
            JOIN truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ranked
                  WHERE crnk <= $p AND vec_id < $nQueries) pp
            JOIN cc USING (cell)) AS n_candidates"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c),
        assigned AS (SELECT cell, vec_id AS neighbor_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        cc AS (SELECT cell, count(*) AS cnt FROM assigned GROUP BY 1),
        truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k)
       SELECT n_probe, n_truth, n_hit,
         round(n_hit / n_truth, 4) AS recall, n_candidates
       FROM ($pers)
       ORDER BY n_probe"""
  }

  /** §2 #224 — `pq_shortlist_sweep`: the tuning table for the PQ
    * family's knob. For each shortlist factor f: recall@k of the
    * ADC-shortlist(f·k) + exact-rerank pipeline vs brute truth, and
    * the rerank gather bill (min(f·k, N−1)·nQueries rows — the ONLY
    * stage that touches raw vectors, so it IS the quality/cost
    * trade). Completes the tuning-table family: `ivf_probe_sweep`
    * prices nProbe, `lsh_plan`/`hamming_plan`/`simhash_plan` price
    * banding geometry, this prices the ADC shortlist.
    *
    * Scale shape: the corpus is encoded and ADC-scored ONCE — the
    * candidates are ranked at the LARGEST factor and every smaller
    * factor is a rank-prefix of that one bounded aggregate; the exact
    * cosines of the max shortlist are computed once and each factor's
    * re-rank is a filter + ≤N×k ranking over them. */
  def pqShortlistSweep(spark: SparkSession, sfDir: String,
                       nQueries: Int = 10, k: Int = 5,
                       factors: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val v = vectors(spark, sfDir)
    val cbs = withTrainCache(v)(trainPqCodebooks(_))
    val nCorpus = v.count()
    // the truth is O(N²) to evaluate — persist it, or every factor
    // branch re-pays it twice (n_truth agg + hits join; ADVICE r15)
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    val maxF = factors.max
    // one ADC ranking at the largest factor; srnk = ADC rank, so a
    // smaller factor's shortlist is srnk <= f*k
    val shortMax = rankTopKFull(
      pqAdcScored(v, cbs, nQueries)
        .withColumnRenamed("score", "cos"), maxF * k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("srnk"))
    // exact cosines of the max shortlist, computed once
    val rer = exactScored(shortMax, candVecs(v),
        queryVecs(v.filter(col("vec_id") < nQueries)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(rer)
    // eager: the concurrent factor branches below scan both caches
    // (Branches scaladoc — lazy sibling scans recompute the lineage)
    truth.count(); rer.count()
    Branches.unionAllConcurrent(factors.map { f =>
      val edges = rankTopK(rer.filter(col("srnk") <= f * k)
        .select("query_id", "neighbor_id", "cos"), k)
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(f).as("shortlist_factor"),
          lit(math.min(f.toLong * k, nCorpus - 1) * nQueries)
            .as("n_rerank"),
          col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }).orderBy("shortlist_factor")
  }

  /** DuckDB oracle for [[pqShortlistSweep]]: the [[pqTrainedOracle]]
    * machinery (trained codebooks + biases inlined, code pivot, ADC
    * sum in fixed sub-space order) with the candidates ADC-ranked once
    * in a shared CTE and one branch per factor — each filters its
    * rank-prefix, exact-reranks, and scores against the shared brute
    * truth. */
  def pqShortlistSweepOracle(nQueries: Int = 10, k: Int = 5,
                             factors: Seq[Int] = Seq(1, 2, 4, 8)): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val cbs = withTrainCache(vectors(spark, sfDir))(trainPqCodebooks(_))
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"q.embedding[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val branches = factors.map { f =>
      s"""SELECT $f AS shortlist_factor,
           (SELECT least(${f.toLong * k}, count(*) - 1) * $nQueries
            FROM embeddings) AS n_rerank,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT s.query_id, s.neighbor_id,
                    row_number() OVER (PARTITION BY s.query_id ORDER BY
                      ${dotSql("qv.embedding", "cv.embedding")}
                        / (qv.nrm * cv.nrm) DESC, s.neighbor_id) AS rnk
                  FROM (SELECT query_id, neighbor_id FROM adcr
                        WHERE r <= ${f * k}) s
                  JOIN nv qv ON qv.vec_id = s.query_id
                  JOIN nv cv ON cv.vec_id = s.neighbor_id) i
            JOIN truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM embeddings,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        adcr AS (SELECT query_id, neighbor_id, r FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM embeddings q, codes n, cbl
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${factors.max * k}),
        truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k)
       SELECT shortlist_factor, n_rerank, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY shortlist_factor"""
  }

  /** §2 #231 — `pq_shortlist_sweep_residual`: the shortlist-budget
    * tuning table for the RESIDUAL IVFADC serving mode (#227/#228 —
    * the recommended one: recall 0.80 vs 0.72 raw at the same
    * default budget). The raw sweep (#224) prices the knob for pure
    * PQ over the whole corpus; this prices it where a deployment
    * actually tunes it — probed-cell candidates, centroid-plus-
    * codeword ADC — and reports the TRUE per-factor gather bill
    * (probed-cell pools vary per query, so `n_rerank` is the
    * measured rank-prefix count, not a closed form).
    *
    * Scale shape: candidates ADC-ranked ONCE at the largest factor
    * (bounded TopK), every smaller factor a rank-prefix; exact
    * cosines of the max shortlist computed once; the O(N²) brute
    * truth persisted across factors. */
  def pqShortlistSweepResidual(spark: SparkSession, sfDir: String,
                               nQueries: Int = 10, k: Int = 5,
                               nProbe: Int = 4,
                               factors: Seq[Int] = Seq(1, 2, 4, 8))
      : DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = residualModels(v, 16)
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    val qs = v.filter(col("vec_id") < nQueries)
    val coded = residualAssigned(v, cents)
      .select(col("cell") +: col("vec_id").as("neighbor_id") +:
        pqCodeCols(cbs, "res"): _*)
    // one residual-ADC ranking over the probed-cell candidates at the
    // LARGEST factor; srnk = ADC rank, smaller factors are prefixes
    val shortMax = rankTopKFull(candidates(coded,
        probeFrame(qs, cents, nProbe).select("cell", "query_id", "e_q"),
        adcScore(cbs, "e_q", Some(cents))), factors.max * k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("srnk"))
    val rer = exactScored(shortMax, candVecs(v), queryVecs(qs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(rer)
    // eager: the concurrent factor branches below scan both caches
    // (Branches scaladoc — lazy sibling scans recompute the lineage)
    truth.count(); rer.count()
    Branches.unionAllConcurrent(factors.map { f =>
      val edges = rankTopK(rer.filter(col("srnk") <= f * k)
        .select("query_id", "neighbor_id", "cos"), k)
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(rer.filter(col("srnk") <= f * k)
          .agg(count(lit(1)).as("n_rerank"))))
        .select(lit(f).as("shortlist_factor"), col("n_rerank"),
          col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }).orderBy("shortlist_factor")
  }

  /** DuckDB oracle for [[pqShortlistSweepResidual]]: the
    * [[ivfPqResidualTrainedOracle]] machinery (both trained models
    * inlined, double residual subtract, residual encode,
    * centroid-first ADC) with the probed-cell candidates ranked once
    * in a shared CTE and one branch per factor — rank-prefix filter,
    * exact re-rank, hit count vs the shared brute truth, and the
    * measured prefix count as the gather bill. */
  def pqShortlistSweepResidualOracle(nQueries: Int = 10, k: Int = 5,
                                     nProbe: Int = 4,
                                     factors: Seq[Int] = Seq(1, 2, 4, 8))
      : String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val (cents, cbs) = residualModels(v, 16)
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (s"${dotSql("p.e_q", "ct.cv")}" +: (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_q[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }).mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val branches = factors.map { f =>
      s"""SELECT $f AS shortlist_factor,
           (SELECT CAST(count(*) AS BIGINT) FROM adcr
            WHERE r <= ${f * k}) AS n_rerank,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT s.query_id, s.neighbor_id,
                    row_number() OVER (PARTITION BY s.query_id ORDER BY
                      ${dotSql("qv.embedding", "cv.embedding")}
                        / (qv.nrm * cv.nrm) DESC, s.neighbor_id) AS rnk
                  FROM (SELECT query_id, neighbor_id FROM adcr
                        WHERE r <= ${f * k}) s
                  JOIN nv qv ON qv.vec_id = s.query_id
                  JOIN nv cv ON cv.vec_id = s.neighbor_id) i
            JOIN truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        resid AS (SELECT r.vec_id, r.cell,
            list_transform(list_zip(r.embedding, c.cv),
              x -> CAST(x[1] AS DOUBLE) - x[2]) AS re
          FROM (SELECT vec_id, embedding, cell FROM ranked WHERE crnk = 1) r
          JOIN cents c ON c.cell = r.cell),
        sub AS (SELECT vec_id, mm.m AS m,
                  re[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM resid,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        acodes AS (SELECT a.cell, c.* FROM codes c
                   JOIN (SELECT vec_id, cell FROM resid) a
                     ON a.vec_id = c.vec_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        adcr AS (SELECT query_id, neighbor_id, r FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM probes p, cents ct, acodes n, cbl
            WHERE ct.cell = p.cell AND n.cell = p.cell
              AND n.vec_id <> p.query_id)
          WHERE r <= ${factors.max * k}),
        truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k)
       SELECT shortlist_factor, n_rerank, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY shortlist_factor"""
  }

  /** §2 #230 — `pq_bits_sweep`: the CODEBOOK-SIZE tuning table — the
    * third and last knob of the PQ serving family after probe count
    * (`ivf_probe_sweep`) and shortlist budget (`pq_shortlist_sweep`).
    * One row per codebook size kk ∈ {4, 16, 64} (2/4/6 bits per code):
    * the storage bill (bits/vector), the mean squared reconstruction
    * error under codebooks of that size (the [[pqDistortionStats]]
    * decimal doctrine — order-independent, oracle-exact), and recall@k
    * of the full encode→ADC→re-rank pipeline against the shared brute
    * truth. This is the table a deployment reads to decide what a halved
    * index footprint costs in recall — measured, not guessed.
    *
    * Scale shape: each size is one [[trainPqCodebooks]] (bounded model
    * state), one stacked map-only distortion pass, and one proven
    * bounded-TopK serve over a query sample; the O(N²) brute truth is
    * evaluated ONCE and persisted across all rows. */
  def pqBitsSweep(spark: SparkSession, sfDir: String,
                  sizes: Seq[Int] = Seq(4, 16, 64),
                  nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    // eager: the concurrent branches below share this cache (Branches
    // scaladoc — lazy sibling scans would each re-pay the O(N²) truth)
    truth.count()
    // OVERLAPPED TRAININGS (r20 opt, guide §2.6): one codebook training
    // per swept size, independent and deterministic — run them as
    // concurrent job streams over the materialized train cache.
    val models = withTrainCache(v) { vc =>
      vc.count()
      Branches.runConcurrent[AnyRef](
        sizes.map(kk => () =>
          (kk -> trainPqCodebooks(vc, k = kk)): AnyRef))
        .map(_.asInstanceOf[(Int, Array[Array[Array[Double]]])])
    }
    Branches.unionAllConcurrent(models.map { case (kk, cbs) =>
      // ceil, not round: a 10-codeword codebook needs 4 bits to
      // address, and understating the bill defeats the table's purpose
      val bits = 32 - Integer.numberOfLeadingZeros(kk - 1)
      val mse = pqDistortionStats(v.select("vec_id", "embedding"), cbs,
          "cur")
        .agg(sum(col("cur_esum")).as("esum"), sum(col("cur_cnt")).as("cnt"))
        .select(round(col("esum").cast("double") / col("cnt"), 6)
          .as("mean_mse6"))
      val edges = annPqWith(v, cbs, nQueries, k)
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(mse))
        .select(lit(kk).as("codebook_k"),
          lit(bits).as("bits_per_code"),
          lit(cbs.length * bits).as("bits_per_vector"),
          col("mean_mse6"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }).orderBy("codebook_k")
  }

  /** DuckDB oracle for [[pqBitsSweep]]: one trained codebook set per
    * size inlined; shared sub-vector slices and brute truth; per size —
    * the code argmin (keeping s/cv/bias for the three-term 8-dp decimal
    * error), the code pivot, the ADC shortlist, and the exact re-rank
    * hit count, all the proven replay machinery. */
  def pqBitsSweepOracle(sizes: Seq[Int] = Seq(4, 16, 64),
                        nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val models = withTrainCache(v)(vc =>
      sizes.map(kk => kk -> trainPqCodebooks(vc, k = kk)))
    val nSub = models.head._2.length
    val sub = models.head._2.head.head.length
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val perSize = models.map { case (sz, cbs) =>
      val cbRows = (for {
        m <- 0 until nSub
        kk <- cbs(m).indices
      } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
        s"${l2Biases(cbs(m))(kk)})")
        .mkString(", ")
      val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      val adc = (0 until nSub).map { m =>
        val lo = m * sub + 1
        val hi = (m + 1) * sub
        s"${dotSql(s"q.embedding[$lo:$hi]", s"k${sz}_cbl.cb[${m + 1}][n.c$m + 1]")}"
      }.mkString(" + ")
      s"""k${sz}_cb(m, kk, cv, bias) AS (VALUES $cbRows),
         k${sz}_cbl AS (SELECT $cbLit AS cb),
         k${sz}_coded AS (SELECT vec_id, m, kk, s, cv, bias FROM (
             SELECT sub.vec_id, sub.m, cb.kk, sub.s, cb.cv, cb.bias,
               row_number() OVER (PARTITION BY sub.vec_id, sub.m
                 ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                   cb.kk) AS r
             FROM sub JOIN k${sz}_cb cb ON cb.m = sub.m) WHERE r = 1),
         k${sz}_codes AS (SELECT vec_id, $codePivot
                          FROM k${sz}_coded GROUP BY 1),
         k${sz}_short AS (SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 ($adc) DESC, n.vec_id) AS r
             FROM embeddings q, k${sz}_codes n, k${sz}_cbl
             WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
           WHERE r <= ${8 * k})"""
    }.mkString(",\n        ")
    val branches = models.map { case (sz, cbs) =>
      val bits = 32 - Integer.numberOfLeadingZeros(sz - 1)
      s"""SELECT $sz AS codebook_k, $bits AS bits_per_code,
           ${cbs.length * bits} AS bits_per_vector,
           (SELECT round(CAST(sum(CAST(round(${dotSql("s", "s")}
              - 2 * ${dotSql("s", "cv")} - 2 * bias, 8) AS DECIMAL(18,8)))
              AS DOUBLE) / count(*), 6) FROM k${sz}_coded) AS mean_mse6,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT s.query_id, s.neighbor_id,
                    row_number() OVER (PARTITION BY s.query_id ORDER BY
                      ${dotSql("qv.embedding", "cv.embedding")}
                        / (qv.nrm * cv.nrm) DESC, s.neighbor_id) AS rnk
                  FROM k${sz}_short s
                  JOIN nv qv ON qv.vec_id = s.query_id
                  JOIN nv cv ON cv.vec_id = s.neighbor_id) i
            JOIN truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM embeddings,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k),
        $perSize
       SELECT codebook_k, bits_per_code, bits_per_vector, mean_mse6,
         n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY codebook_k"""
  }

  /** §2 #226 — `ann_recall_eval_pq`: the recall table for the
    * COMPRESSED serving variants — [[annRecallEval]] scores the
    * static-model paths (ivf_static, lsh, sign_sketch), but the
    * variants a 100 TB deployment actually serves are [[annPq]],
    * [[annPqOpq]], [[annIvfPq]], [[annIvfPqResidual]], and the
    * training-free [[annSq8]]; this scores them against the same brute
    * truth with the same one-row-per-variant output (`ann_ivfpq_indexed`
    * serves bit-identically to `ann_ivfpq` by the shared oracle, so its
    * row would be a duplicate). The residual row is the table's point
    * at a glance: same 8-nibble storage, higher recall — the measured
    * argument for residual encoding. All trained models come from the
    * shared train cache (one training per corpus per JVM), and the
    * truth frame is evaluated once and shared by all hit-joins.
    *
    * Scale shape: two already-proven bounded-TopK pipelines over a
    * query SAMPLE + joins of ≤ nQueries×k edge lists — the same
    * sweep-cheap geometry as [[annRecallEval]]. */
  def annRecallEvalPq(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    // OVERLAPPED TRAININGS (r20 opt, guide §2.6): three independent
    // training streams — (k-means → residual PQ, which needs the
    // centroids), OPQ, and raw PQ — each a deterministic driver loop of
    // small jobs over the materialized train cache.
    val (cents, cbs, cbsR, rO, cbsO) = withTrainCache(v) { vc =>
      vc.count()
      val trained = Branches.runConcurrent[AnyRef](Seq(
        () => {
          val cents = trainCentroids(vc, 16)
          (cents, trainPqCodebooks(residualAssigned(vc, cents)
            .select(col("vec_id"), col("res").as("embedding"))))
        },
        () => trainOpqRotation(vc),
        () => trainPqCodebooks(vc)))
      val (cents, cbsR) = trained(0)
        .asInstanceOf[(Array[Array[Double]], Array[Array[Array[Double]]])]
      val (rO, cbsO) = trained(1)
        .asInstanceOf[(Array[Array[Double]], Array[Array[Array[Double]]])]
      (cents, trained(2).asInstanceOf[Array[Array[Array[Double]]]],
        cbsR, rO, cbsO)
    }
    val key = Seq("query_id", "neighbor_id")
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(key.head, key.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    truth.count()
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    // six independent 1-row rungs over the persisted truth — concurrent
    // branch jobs (Branches scaladoc)
    Branches.unionAllConcurrent(Seq(
        one("ann_pq", annPqWith(v, cbs, nQueries, k)),
        one("ann_pq_opq", annPqOpqWith(v, rO, cbsO, nQueries, k)),
        one("ann_ivfpq_opq",
          annIvfPqOpqWith(v, cents, rO, cbsO, 4, nQueries, k)),
        one("ann_ivfpq", annIvfPqWith(v, cents, cbs, 4, nQueries, k)),
        one("ann_ivfpq_residual",
          annIvfPqResidualWith(v, cents, cbsR, 4, nQueries, k)),
        one("ann_sq8", annSq8With(v, nQueries, k))))
      .orderBy("variant")
  }

  /** DuckDB oracle for [[annRecallEvalPq]]: the [[pqTrainedOracle]] and
    * [[ivfPqTrainedOracle]] machinery merged onto SHARED CTEs (one code
    * pivot, one truth) with one counting branch per variant. */
  def annRecallEvalPqOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val (cents, cbs, cbsR, rO, cbsO) = withTrainCache(v) { vc =>
      val cents = trainCentroids(vc, 16)
      val (rO, cbsO) = trainOpqRotation(vc)
      (cents, trainPqCodebooks(vc),
        trainPqCodebooks(residualAssigned(vc, cents)
          .select(col("vec_id"), col("res").as("embedding"))),
        rO, cbsO)
    }
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val nProbe = 4
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val (cbRows, cbLit) = pqCbLits(cbs)
    val (cbrRows, cbrLit) = pqCbLits(cbsR)
    val (cboRows, cboLit) = pqCbLits(cbsO)
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    def adc(qE: String) = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"$qE[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    // OPQ ADC: the rotated query's slices off the OPQ codebooks
    val adcO = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"q.embedding[$lo:$hi]", s"cbol.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    // IVF×OPQ ADC: same rotated-query slices, probed cells only
    val adcIO = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_s[$lo:$hi]", s"cbol.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    // residual ADC: centroid term FIRST (the engine's reduceLeft order),
    // then the per-sub-space codeword dots off the RESIDUAL codebooks
    val adcR = (s"${dotSql("p.e_q", "ct.cv")}" +: (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_q[$lo:$hi]", s"cbrl.cb[${m + 1}][n.c$m + 1]")}"
    }).mkString(" + ")
    // one branch per variant: shortlist CTE name in, hit count out
    def hitCount(shortCte: String) =
      s"""(SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT s.query_id, s.neighbor_id,
                    row_number() OVER (PARTITION BY s.query_id ORDER BY
                      ${dotSql("qv.embedding", "cv.embedding")}
                        / (qv.nrm * cv.nrm) DESC, s.neighbor_id) AS rnk
                  FROM $shortCte s
                  JOIN nv qv ON qv.vec_id = s.query_id
                  JOIN nv cv ON cv.vec_id = s.neighbor_id) i
            JOIN truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k)"""
    s"""WITH cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        cbr(m, kk, cv, bias) AS (VALUES $cbrRows),
        cbrl AS (SELECT $cbrLit AS cb),
        cbo(m, kk, cv, bias) AS (VALUES $cboRows),
        cbol AS (SELECT $cboLit AS cb),
        ${opqRotCte(rO)},
        subo AS (SELECT vec_id, mm.m AS m,
                   embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                 FROM rot,
                      (SELECT unnest(range(0, $nSub)) AS m) mm),
        codedo AS (SELECT vec_id, m, kk FROM (
                     SELECT subo.vec_id, subo.m, cbo.kk,
                       row_number() OVER (PARTITION BY subo.vec_id, subo.m
                         ORDER BY (${dotSql("subo.s", "cbo.cv")} + cbo.bias)
                           DESC, cbo.kk) AS r
                     FROM subo JOIN cbo ON cbo.m = subo.m)
                   WHERE r = 1),
        codeso AS (SELECT vec_id, $codePivot FROM codedo GROUP BY 1),
        cents(cell, cv) AS (VALUES $centRows),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM embeddings,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        acodes AS (SELECT a.cell, c.* FROM codes c
                   JOIN (SELECT vec_id, cell FROM ranked WHERE crnk = 1) a
                     ON a.vec_id = c.vec_id),
        resid AS (SELECT r.vec_id, r.cell,
            list_transform(list_zip(r.embedding, c.cv),
              x -> CAST(x[1] AS DOUBLE) - x[2]) AS re
          FROM (SELECT vec_id, embedding, cell FROM ranked WHERE crnk = 1) r
          JOIN cents c ON c.cell = r.cell),
        subr AS (SELECT vec_id, mm.m AS m,
                   re[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                 FROM resid,
                      (SELECT unnest(range(0, $nSub)) AS m) mm),
        codedr AS (SELECT vec_id, m, kk FROM (
                     SELECT subr.vec_id, subr.m, cbr.kk,
                       row_number() OVER (PARTITION BY subr.vec_id, subr.m
                         ORDER BY (${dotSql("subr.s", "cbr.cv")} + cbr.bias)
                           DESC, cbr.kk) AS r
                     FROM subr JOIN cbr ON cbr.m = subr.m)
                   WHERE r = 1),
        codesr AS (SELECT vec_id, $codePivot FROM codedr GROUP BY 1),
        acodesr AS (SELECT a.cell, c.* FROM codesr c
                    JOIN (SELECT vec_id, cell FROM resid) a
                      ON a.vec_id = c.vec_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        acodeso AS (SELECT a.cell, c.* FROM codeso c
                    JOIN (SELECT vec_id, cell FROM ranked WHERE crnk = 1) a
                      ON a.vec_id = c.vec_id),
        probeso AS (SELECT p.cell, p.query_id, rt.embedding AS e_s
                    FROM probes p JOIN rot rt ON rt.vec_id = p.query_id),
        truth AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k),
        short_pq AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (${adc("q.embedding")}) DESC, n.vec_id) AS r
            FROM embeddings q, codes n, cbl
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${8 * k}),
        short_pq_opq AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ($adcO) DESC, n.vec_id) AS r
            FROM rot q, codeso n, cbol
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${8 * k}),
        short_ivfpq AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${adc("p.e_q")}) DESC, n.vec_id) AS r
            FROM probes p, acodes n, cbl
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * k}),
        short_ivfpq_opq AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adcIO) DESC, n.vec_id) AS r
            FROM probeso p, acodeso n, cbol
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * k}),
        short_ivfpq_r AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adcR) DESC, n.vec_id) AS r
            FROM probes p, cents ct, acodesr n, cbrl
            WHERE ct.cell = p.cell AND n.cell = p.cell
              AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * k}),
        dqz AS (${sq8DequantCteBody}),
        short_sq8 AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (${dotSql("q.embedding", "n.d")}
                   / (sqrt(${dotSql("q.embedding", "q.embedding")})
                      * sqrt(${dotSql("n.d", "n.d")}))) DESC,
                n.vec_id) AS r
            FROM embeddings q JOIN dqz n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE r <= ${8 * k})
       SELECT variant, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM (
         SELECT 'ann_ivfpq' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_ivfpq")} AS n_hit
         UNION ALL
         SELECT 'ann_ivfpq_opq' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_ivfpq_opq")} AS n_hit
         UNION ALL
         SELECT 'ann_ivfpq_residual' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_ivfpq_r")} AS n_hit
         UNION ALL
         SELECT 'ann_pq' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_pq")} AS n_hit
         UNION ALL
         SELECT 'ann_pq_opq' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_pq_opq")} AS n_hit
         UNION ALL
         SELECT 'ann_sq8' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${hitCount("short_sq8")} AS n_hit)
       ORDER BY variant"""
  }

  /** Session-shared exact k-NN EDGE ARTIFACT (docs/ARTIFACTS.md): the
    * corpus-scale cell equi-join build runs ONCE per (session, sfDir,
    * k) and lands as a (src, dst, rnk, cos, mutual) parquet; every graph
    * consumer (pagerank's iterations, knn_communities' propagation)
    * then reads the artifact — the same amortization doctrine as the
    * verified-pair and BPE-rules artifacts. knn_graph itself stays the
    * measured fresh build. Per-JVM namespace + computeIfAbsent: no
    * stale reuse across driver rounds, single build under concurrency. */
  private val sharedEdgeDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private lazy val edgesNs = java.util.UUID.randomUUID().toString
  def sharedKnnEdgesDir(spark: SparkSession, sfDir: String,
                        k: Int = 5): String =
    sharedEdgeDirs.computeIfAbsent((sfDir, k), { _ =>
      val dir = ExportImport.scratch(
        s"knn-edges/$edgesNs/k$k-${ExportImport.pathSlug(sfDir)}")
      // FULL-precision cos in the stored state (not the display
      // rounding): [[knnEdgesIncrementalFrom]] re-ranks stored edges
      // against freshly computed doubles, which is only exact when the
      // stored score is the exact score
      mutualFull(knnEdgesFullFrom(
        graft.Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), k))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** EXACT kNN edges with full-precision scores over an explicit
    * (vec_id, embedding) frame — [[knnGraph]]'s cell equi-join plan
    * (all cells probed ⇒ exact, no corpus-side broadcast), minus the
    * display rounding: the state [[sharedKnnEdgesDir]] stores and
    * [[knnEdgesIncrementalFrom]] merges. */
  private[graft] def knnEdgesFullFrom(vecs: DataFrame,
                                      k: Int = 5): DataFrame = {
    val cents = staticCentroids()
    val v = vecs.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val assigned = ivfLists(v, cents)
    val probes = probeFrame(v, cents, cents.length)
    // salted exactly like [[knnGraphAnn]]: the nCells-key join caps the
    // pair-compute stage at nCells tasks; sub-bucketing the candidate
    // side spreads the identical pair set over the session's cores
    val nSalts = math.max(1,
      2 * vecs.sparkSession.sparkContext.defaultParallelism / cents.length)
    val assignedS = assigned.withColumn("salt",
      pmod(xxhash64(col("neighbor_id")), lit(nSalts.toLong)).cast("int"))
    val probesS = probes.withColumn("salt",
      explode(typedLit(List.range(0, nSalts))))
    // explicit count so AQE's byte-based coalescing cannot fold the
    // pair-compute stage (see [[knnGraphAnn]])
    val parts = cents.length * nSalts
    rankTopKFull(
      assignedS.repartition(parts, col("cell"), col("salt"))
        .join(probesS.repartition(parts, col("cell"), col("salt")),
          Seq("cell", "salt"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          exactCos.as("cos")), k)
  }

  /** EXACT INCREMENTAL kNN edge maintenance: the combined graph over
    * `base ∪ delta` from the base's stored edge state + one
    * delta-proportional scoring pass — never the |corpus|² rebuild.
    * Exactness argument: a delta vector is the only kind of new
    * candidate, so an existing node's new top-k is the top-k of
    * (its stored top-k ∪ its scores against the delta) — a base
    * candidate outside the stored top-k can never re-enter, because
    * the merged k-th score is ≥ the old k-th score that already beat
    * it (ties break on neighbor_id in both builds). Delta nodes rank
    * against the full corpus through the ann_bruteforce shape
    * (broadcast DELTA query side; the corpus-sized side only streams).
    * Output is [[knnGraph]]-shaped and equals the full rebuild
    * row-for-row (SimilaritySpec; the `knn_edges_incremental` oracle
    * replays the combined-corpus brute graph).
    *
    * Scale shape: cost ∝ |delta| × |corpus| scoring + one ≤N×k merge
    * agg + the ≤N×k mutual self-join. `baseEdges` must carry
    * FULL-precision `cos` ([[sharedKnnEdgesDir]]'s state shape) —
    * see [[rankTopKFull]]. Feeds the same consumers (pagerank,
    * communities, triangles) a daily-ingest deployment re-points at
    * the merged edge table.
    *
    * CONTRACT (guarded, ADVICE r15): `baseEdges` needs `src`/`dst`/
    * `rnk` and a DOUBLE `cos` (a `cos6`-shaped frame — this method's
    * own OUTPUT — is refused: re-ranking rounded scores against fresh
    * doubles is not exact; chain through the full-precision state,
    * [[sharedKnnEdgesDir]] / the streaming maintainer's store), and
    * must have been built with k' ≥ k: a stored top-k' cannot supply
    * ranks k'+1..k, so the merge would silently return a truncated
    * graph. k' is checked as the global max stored rank (one bounded
    * agg over the ≤N×k' edge frame). */
  def knnEdgesIncrementalFrom(base: DataFrame, baseEdges: DataFrame,
                              delta: DataFrame, k: Int = 5): DataFrame = {
    val cols = baseEdges.columns.toSet
    require(Seq("src", "dst", "rnk", "cos").forall(cols.contains),
      s"baseEdges needs columns src/dst/rnk/cos (the sharedKnnEdgesDir " +
        s"state shape); got ${baseEdges.columns.mkString(", ")} — a " +
        "cos6 frame (this method's OUTPUT) is not valid merge state")
    require(baseEdges.schema("cos").dataType ==
      org.apache.spark.sql.types.DoubleType,
      "baseEdges.cos must be the full-precision DOUBLE score: merging " +
        "re-ranks stored edges against freshly computed doubles, which " +
        "is only exact when the stored score is the exact score")
    // a base node with n-1 < k possible neighbors legitimately stores
    // fewer ranks, so the bound is min(k, |base|-1). storedK >= k
    // already implies sufficiency (needK <= k), so the corpus-sized
    // count is paid ONLY in the small-corpus edge case — never on the
    // common per-merge path
    val storedK = Option(baseEdges.agg(max("rnk")).head().get(0))
      .map(_.asInstanceOf[Number].intValue).getOrElse(0)
    if (storedK < k) {
      val needK = math.min(k.toLong, base.count() - 1)
      require(storedK >= needK,
        s"baseEdges was built with k=$storedK < required $needK: a " +
          s"stored top-$storedK cannot supply ranks ${storedK + 1}.." +
          s"$needK for existing nodes — rebuild the edge artifact at " +
          s"k or merge at k ≤ $storedK")
    }
    mutualFlag(knnEdgesIncrementalFull(base, baseEdges, delta, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos6")))
  }

  /** [[knnEdgesIncrementalFrom]] keeping FULL-precision scores — the
    * (query_id, neighbor_id, rnk, cos) frame the continuous maintainer
    * ([[graft.streaming.StreamKnnEdges]]) stores back as the next
    * merge's state. */
  private[graft] def knnEdgesIncrementalFull(base: DataFrame,
                                             baseEdges: DataFrame,
                                             delta: DataFrame,
                                             k: Int): DataFrame = {
    def withN(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val bn = withN(base)
    val dn = withN(delta)
    val dCand = dn.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    // existing nodes: stored top-k ∪ scores against the broadcast delta
    val newCand = bn.select(col("vec_id").as("query_id"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
      .join(broadcast(dCand), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        exactCos.as("cos"))
    val stored = baseEdges.select(col("src").as("query_id"),
      col("dst").as("neighbor_id"), col("cos"))
    val mergedBase = rankTopKFull(stored.unionByName(newCand), k)
    // delta nodes: broadcast query side, the corpus streams
    val deltaEdges = rankTopKFull(
      candidates(candVecs(bn.unionByName(dn)), queryVecs(dn), exactCos), k)
    mergedBase.unionByName(deltaEdges)
  }

  /** Mutual-flag decoration PRESERVING full-precision scores — the
    * (src, dst, rnk, cos, mutual) state shape of [[sharedKnnEdgesDir]]
    * and the continuous maintainer. */
  private[graft] def mutualFull(full: DataFrame): DataFrame = {
    val rev = full.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("rev"))
    full.join(rev, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("rnk"), col("cos"),
        coalesce(col("rev"), lit(false)).as("mutual"))
  }

  /** §2 #223 — `knn_edges_incremental`: the graph-family delta path —
    * maintain the exact kNN edge artifact under ingest without the
    * |corpus|² rebuild every other artifact family already avoids
    * (pairs #151, IVF #150b, sketches #216). Base edges come from the
    * session-shared artifact ([[sharedKnnEdgesDir]] — built once,
    * amortized across pagerank/communities/triangles, so THIS query
    * measures the merge, the production shape); the delta is the
    * re-id'd 20% slice (near-dup ingest: exact copies under fresh
    * ids). Output equals [[knnGraph]] over the combined corpus
    * row-for-row — the oracle replays the combined brute graph. */
  def knnEdgesIncremental(spark: SparkSession, sfDir: String,
                          k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val delta = v.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val baseEdges = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
    knnEdgesIncrementalFrom(v, baseEdges, delta, k)
  }

  /** §2 #205 — kNN TRIANGLES / local clustering coefficient: per node
    * of the MUTUAL k-NN graph, its degree, triangle count, and local
    * clustering coefficient (2·tri / deg·(deg−1)) — the geometry-health
    * audit beside [[knnCommunities]]: high coefficients mean tight
    * semantic neighborhoods (good dedup/retrieval structure), a flat
    * near-zero profile means the embedding space is hub-dominated noise
    * at this k. Edges come from the session-shared knn artifact (built
    * once per corpus version).
    *
    * Scale shape: mutual degree ≤ k by construction, so the oriented
    * wedge join is bounded by N·C(k,2) rows and every join key is an
    * id — no vector ever enters the plan. Triangles are counted once
    * each via the (a<b<c) orientation and attributed to their three
    * corners with one explode + hash agg. */
  def knnTriangles(spark: SparkSession, sfDir: String,
                   k: Int = 5): DataFrame = {
    val mutual = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val deg = mutual.select(col("a").as("vec_id"))
      .union(mutual.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    val wedges = mutual.as("e1")
      .join(mutual.as("e2"), col("e1.a") === col("e2.a")
        && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val tris = wedges.join(
      mutual.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
    val triPerNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("triangles"))
    graft.Tables.load(spark, sfDir, "embeddings").select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left")
      .join(triPerNode, Seq("vec_id"), "left")
      .na.fill(0L, Seq("degree", "triangles"))
      .select(col("vec_id"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          round(col("triangles") * lit(2.0)
            / (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("coeff4"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[knnTriangles]]: the exact knn CTE + mutual
    * filter + the same oriented triangle join and per-corner
    * attribution. */
  def knnTrianglesOracle(k: Int = 5): String = {
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        e0 AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id <> q.vec_id)
          WHERE rnk <= $k),
        mutual AS (SELECT e.query_id AS id_a, e.neighbor_id AS id_b
                   FROM e0 e JOIN e0 r ON r.query_id = e.neighbor_id
                                      AND r.neighbor_id = e.query_id
                   WHERE e.query_id < e.neighbor_id),
        deg AS (SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM mutual
            UNION ALL SELECT id_b FROM mutual) GROUP BY id),
        tris AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
                 FROM mutual e1
                 JOIN mutual e2 ON e2.id_a = e1.id_a
                               AND e2.id_b > e1.id_b
                 JOIN mutual e3 ON e3.id_a = e1.id_b
                               AND e3.id_b = e2.id_b),
        tpn AS (SELECT id, count(*) AS triangles FROM (
            SELECT x AS id FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris) GROUP BY id)
       SELECT v.vec_id,
              CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
              CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
              CASE WHEN coalesce(d.degree, 0) >= 2
                   THEN round(2.0 * coalesce(t.triangles, 0)
                        / (d.degree * (d.degree - 1)), 4)
                   ELSE 0.0 END AS coeff4
       FROM embeddings v
       LEFT JOIN deg d ON d.id = v.vec_id
       LEFT JOIN tpn t ON t.id = v.vec_id
       ORDER BY v.vec_id"""
  }

  /** §2 #189 — SEMANTIC COMMUNITIES: connected components over the
    * MUTUAL k-NN graph (mutual edges only — the standard symmetric
    * sparsification that keeps hub vectors from welding unrelated
    * regions together), rolled up per community with label purity —
    * the unsupervised structure report read NEXT TO the supervised
    * label audits (embedding_class_stats asks "is each label
    * geometrically tight"; this asks "does the geometry's own
    * community structure agree with the labels").
    *
    * Scale shape: edges come from the session-shared artifact
    * ([[sharedKnnEdgesDir]] — the broadcast-free cell equi-join build
    * paid once per corpus version); components run the SAME O(log d)
    * pointer-halving propagation as dedup_clusters over ≤ N·k mutual
    * edges; the rollup is a two-level (community, label) hash agg —
    * majority via min(struct), no window over members. */
  def knnCommunities(spark: SparkSession, sfDir: String, k: Int = 5,
                     maxIters: Int = 20): DataFrame = {
    val edges = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val labels = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val comps = Dedup.clustersFromPairs(
      labels.select(col("vec_id").as("doc_id")), edges, maxIters)
    val byLabel = comps
      .join(labels.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("cnt"))
    byLabel.groupBy(col("cluster_id").as("community_id"))
      .agg(sum("cnt").as("n_members"), count(lit(1)).as("n_labels"),
        min(struct((-col("cnt")).as("neg"), col("label").as("lab")))
          .as("m"))
      .select(col("community_id"), col("n_members"), col("n_labels"),
        col("m.lab").as("majority_label"),
        round((-col("m.neg")) / col("n_members"), 4).as("purity4"))
      .orderBy("community_id")
  }

  /** DuckDB oracle for [[knnCommunities]]: the exact knn edge CTE +
    * mutual filter + recursive-CTE transitive closure + the identical
    * majority/purity arithmetic. */
  def knnCommunitiesOracle(k: Int = 5): String = {
    s"""WITH RECURSIVE n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        e0 AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id <> q.vec_id)
          WHERE rnk <= $k),
        mutual AS (SELECT e.query_id AS id_a, e.neighbor_id AS id_b
                   FROM e0 e JOIN e0 r ON r.query_id = e.neighbor_id
                                      AND r.neighbor_id = e.query_id
                   WHERE e.query_id < e.neighbor_id),
        edges AS (SELECT id_a AS src, id_b AS dst FROM mutual
                  UNION ALL SELECT id_b, id_a FROM mutual),
        reach(id, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS community_id FROM reach GROUP BY 1),
        mem AS (SELECT lab.community_id, emb.label
                FROM lab JOIN embeddings emb ON emb.vec_id = lab.id),
        bl AS (SELECT community_id, label, count(*) AS cnt
               FROM mem GROUP BY 1, 2),
        sel AS (SELECT community_id, label AS majority_label,
                  cnt AS maj_cnt FROM (
            SELECT *, row_number() OVER (PARTITION BY community_id
              ORDER BY cnt DESC, label) AS rn FROM bl) WHERE rn = 1),
        tot AS (SELECT community_id, CAST(sum(cnt) AS BIGINT) AS n_members,
                  count(*) AS n_labels FROM bl GROUP BY 1)
       SELECT t.community_id, t.n_members, t.n_labels, s.majority_label,
         round(s.maj_cnt / CAST(t.n_members AS DOUBLE), 4) AS purity4
       FROM tot t JOIN sel s USING (community_id)
       ORDER BY community_id"""
  }

  /** Shared final ranking for every ANN variant: one hash aggregate with
    * the bounded [[graft.functions.TopKByScore]] buffer — partial top-k
    * per map partition, so the exchange moves at most k rows per
    * (query, partition) instead of hash-partitioning ALL surviving
    * candidates into a per-query window sort (at nProbe/nCells = 1/4
    * that window would land ~N/4 rows in ONE task per query). Tie-break
    * is (score desc, id asc), identical to the SQL oracles' row_number. */
  /** [[rankTopK]] keeping the FULL-precision score — the form the
    * incremental kNN edge state stores: a 6-dp-rounded score cannot
    * re-rank exactly against freshly computed doubles (at N×k×|delta|
    * comparisons, crossings inside the rounding step are expected). */
  private def rankTopKFull(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topkByScore(
        col("neighbor_id"), col("cos"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("e.cos").as("cos"))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankTopKFull(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos6"))
      .orderBy("query_id", "rnk")

  // ---- The two-stage ANN scan core ----
  // Every IVF / SQ8 / PQ / MMR serving variant is a composition of the
  // stages below — the FAISS index-factory split into transform, coarse
  // quantizer, scan code and selector: a probe frame, a candidate join
  // carrying one score column, a bounded TopK shortlist, and an exact
  // re-rank by true cosine. A variant picks its lists (raw, sq8, PQ
  // codes), its score (exact, sq8, ADC) and its selector (top-k or MMR).

  /** Exact cosine of the query (e_q, n_q) against the candidate
    * (e_c, n_c). */
  private def exactCos: Column =
    cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))

  /** Candidate vectors (neighbor_id, e_c, n_c) of a (vec_id, embedding,
    * nrm) frame. */
  private def candVecs(v: DataFrame): DataFrame =
    v.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))

  /** Query vectors (query_id, e_q, n_q) of a (vec_id, embedding, nrm)
    * frame. */
  private def queryVecs(q: DataFrame): DataFrame =
    q.select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
      col("nrm").as("n_q"))

  /** The coarse cell of each row's `embedding` — map-only, one argmax
    * over the broadcast centroid matrix. */
  private def cellOf(cents: Array[Array[Double]]): Column =
    element_at(graft.functions.VectorQuantize.nearestCells(col("embedding"),
      cents, 1), 1).as("cell")

  /** Inline inverted lists (cell, neighbor_id, e_c, n_c) of a (vec_id,
    * embedding, nrm) corpus — the row shape an artifact's
    * [[indexLists]] reads back. */
  private def ivfLists(v: DataFrame, cents: Array[Array[Double]]): DataFrame =
    v.select(cellOf(cents), col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))

  /** An index artifact's centroids and inverted lists (cell,
    * neighbor_id, e_c, n_c), base plus live deltas. `raw` first refuses
    * a whitened artifact ([[requireRawIndex]]); only the whitened serve,
    * whose queries arrive already transformed, reads with `raw = false`. */
  private def indexLists(spark: SparkSession, dir: String,
                         raw: Boolean = true)
      : (Array[Array[Double]], DataFrame) = {
    if (raw) requireRawIndex(spark, dir)
    (readIvfCentroids(spark, dir), readIvfAssigned(spark, dir)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("e_c"), col("nrm").as("n_c")))
  }

  /** Probe frame (query_id, e_q, n_q, cell): each (vec_id, embedding)
    * query fanned out to its `nProbe` nearest cells. `norm` is the query
    * norm — a precomputed `nrm`, or computed inline for raw query
    * frames. */
  private def probeFrame(queries: DataFrame, cents: Array[Array[Double]],
                         nProbe: Int, norm: Column = col("nrm")): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
      norm.as("n_q"), explode(graft.functions.VectorQuantize
        .nearestCells(col("embedding"), cents, nProbe)).as("cell"))

  /** Candidate join → (query_id, neighbor_id, `as`). Probes carrying a
    * `cell` column equi-join the lists on it (IVF: only probed cells are
    * scanned; each neighbor lives in one cell and a query's probed cells
    * are distinct, so pairs are unique); probes without one are a flat
    * scan of every candidate against the broadcast queries. Self-matches
    * are dropped either way. */
  private def candidates(lists: DataFrame, probes: DataFrame, score: Column,
                         as: String = "cos"): DataFrame = {
    val notSelf = col("query_id") =!= col("neighbor_id")
    val pairs =
      if (probes.columns.contains("cell"))
        lists.join(broadcast(probes), Seq("cell")).filter(notSelf)
      else lists.join(broadcast(probes), notSelf)
    pairs.select(col("query_id"), col("neighbor_id"), score.as(as))
  }

  /** Bounded shortlist: the top-`n` (query_id, neighbor_id) per query by
    * `score` — the [[graft.functions.TopKByScore]] aggregate, so the
    * exchange carries at most `n` rows per (query, partition). */
  private def shortlistOf(scored: DataFrame, n: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topkByScore(
        col("neighbor_id"), col("score"), n).as("top"))
      .select(col("query_id"), explode(col("top.neighbor_id"))
        .as("neighbor_id"))

  /** SQ8 stage 1: candidates scored against their dequantized int8
    * serving vector ([[graft.functions.Sq8Dequant]], built once per
    * candidate, map-only — re-quantizing inside the pair join would
    * multiply the work by the query count), cut to a top-`n` shortlist. */
  private def sq8Shortlist(lists: DataFrame, probes: DataFrame,
                           n: Int): DataFrame = {
    val scan = lists
      .select(lists.columns.filter(Set("cell", "neighbor_id")).map(col) :+
        graft.functions.Sq8Dequant.dequant(col("e_c")).as("d"): _*)
      .withColumn("n_d", l2norm(col("d")))
    shortlistOf(candidates(scan, probes,
      cosineWithNorms(dot(col("e_q"), col("d")), col("n_q"), col("n_d")),
      "score"), n)
  }

  /** Exact stage: gather only the shortlisted vectors by id (an
    * equi-join, shortlist × queries rows) and score true cosine in the
    * candidates' space → `short`'s columns + `cos`. */
  private def exactScored(short: DataFrame, cands: DataFrame,
                          queries: DataFrame): DataFrame =
    short.join(cands.select("neighbor_id", "e_c", "n_c"), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(short.columns.map(col) :+ exactCos.as("cos"): _*)

  /** Exact re-rank: [[exactScored]] ranked to the final top-k. */
  private def exactRerank(short: DataFrame, cands: DataFrame,
                          queries: DataFrame, k: Int): DataFrame =
    rankTopK(exactScored(short, cands, queries), k)

  /** PQ code columns c0..c{m-1} of the `src` vector column: one
    * L2-argmin per sub-space over the broadcast codebook, map-only. */
  private def pqCodeCols(cbs: Array[Array[Array[Double]]],
                         src: String): Seq[Column] = {
    val sub = cbs.head.head.length
    cbs.indices.map { m =>
      element_at(graft.functions.VectorQuantize.nearestCellsBiased(
        expr(s"slice($src, ${m * sub + 1}, $sub)"), cbs(m),
        l2Biases(cbs(m)), 1), 1).as(s"c$m")
    }
  }

  /** ADC score: each sub-space slice of the query column `q` dotted with
    * the candidate's codeword, summed left to right — the oracles add in
    * the same order, so the double is bit-identical. Residual codes
    * (`cents` given) start the sum with the probed cell's centroid term
    * dot(e_q, c), since recon = c + codewords. */
  private def adcScore(cbs: Array[Array[Array[Double]]], q: String,
                       cents: Option[Array[Array[Double]]] = None): Column = {
    val sub = cbs.head.head.length
    val centDot = cents.map(c => dot(col("e_q"),
      element_at(typedLit(c.map(_.toSeq).toSeq), col("cell") + 1)))
    (centDot.toSeq ++ cbs.indices.map { m =>
      dot(expr(s"slice($q, ${m * sub + 1}, $sub)"),
        element_at(typedLit(cbs(m).map(_.toSeq).toSeq), col(s"c$m") + 1))
    }).reduceLeft(_ + _)
  }

  /** The inline two-stage tail: a bounded shortlist of the `score`d
    * pairs, exact-reranked in `v`'s space against its first `nQueries`
    * vectors. `v` is the ORIGINAL space even when `scored` ranks in a
    * rotated one (OPQ): rotation preserves cosine, and ranking on the
    * raw embeddings keeps the output directly comparable. */
  private def shortlistRerank(scored: DataFrame, v: DataFrame, nQueries: Int,
                              k: Int, shortlistFactor: Int = 8): DataFrame =
    exactRerank(shortlistOf(scored, shortlistFactor * k), candVecs(v),
      queryVecs(v.filter(col("vec_id") < nQueries)), k)

  /** Build a fresh artifact under a per-run scratch dir (concurrent runs
    * must not overwrite each other's artifact mid-read), then serve the
    * first `nQueries` corpus vectors from it — the `*Indexed` queries. */
  private def serveFreshIndex(spark: SparkSession, sfDir: String,
                              kind: String, nQueries: Int)
                             (build: String => Unit)
                             (serve: (String, DataFrame) => DataFrame)
      : DataFrame = {
    val dir = ExportImport.scratch(s"$kind/run-${java.util.UUID.randomUUID()}")
    build(dir)
    serve(dir, Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")))
  }

  /** The `build` of the PQ-leg `*Indexed` queries: the IVF artifact over
    * `v` under `cents`, plus its PQ leg from the given models. */
  private def ivfPqArtifact(spark: SparkSession, v: DataFrame,
                            cents: Array[Array[Double]],
                            cbs: Array[Array[Array[Double]]],
                            residual: Option[Boolean] = None,
                            rotation: Option[Array[Array[Double]]] = None)
                           (dir: String): Unit = {
    ivfIndexBuild(spark, v.select("vec_id", "embedding"), dir, cents)
    ivfPqIndexAdd(spark, dir, Some(cbs), residual = residual,
      rotation = rotation)
  }

  /** Coarse centroids + raw PQ codebooks, trained on the cached corpus. */
  private def ivfPqModels(v: DataFrame, nCells: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    withTrainCache(v)(vc => (trainCentroids(vc, nCells), trainPqCodebooks(vc)))

  /** Coarse centroids + RESIDUAL PQ codebooks: the codebooks train on
    * the `e − c(e)` frame ([[trainPqCodebooks]] is dimension- and
    * type-agnostic, so array<double> residuals train as-is). */
  private def residualModels(v: DataFrame, nCells: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    withTrainCache(v) { vc =>
      val cents = trainCentroids(vc, nCells)
      (cents, trainPqCodebooks(residualAssigned(vc, cents)
        .select(col("vec_id"), col("res").as("embedding"))))
    }

  /** Spherical k-means coarse quantizer, trained as DataFrame
    * aggregations. Each iteration is map-only assignment (the
    * [[graft.functions.NearestCells]] expression folds the centroid
    * matrix per row) + one partially-aggregated mean: the exchange
    * carries at most partitions × nCells × dims partial rows, never the
    * corpus. The driver only ever holds the nCells × dims centroid
    * matrix (the broadcast literal of the next iteration) — bounded
    * model state, not data.
    *
    * Determinism: init = first nCells vectors by id; per-iteration means
    * are quantized to 1e-6 before re-normalizing so float summation
    * order cannot leak into the trained model across runs.
    */
  private def normalize(c: Array[Array[Double]]): Array[Array[Double]] =
    c.map { a =>
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0.0) a else a.map(_ / n)
    }

  /** Static coarse quantizer (seeded unit vectors) for the
    * oracle-checked IVF variant — the stand-in for centroids a real
    * deployment trains ONCE, offline, and ships as a constant. Being a
    * compile-time constant is exactly what makes the full IVF
    * probe/rank pipeline statically replayable by a SQL oracle. */
  private[graft] def staticCentroids(nCells: Int = 16,
                                     dim: Int = 64): Array[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    normalize(Array.fill(nCells)(Array.fill(dim)(rnd.nextGaussian())))
  }

  private[graft] def trainCentroids(v: DataFrame, nCells: Int,
                                    iters: Int = 3): Array[Array[Double]] =
      memoModel(v, s"cents|$nCells|$iters") {
    import v.sparkSession.implicits._
    // init = the nCells FIRST vectors BY ID (a bounded global TopK,
    // not `vec_id < nCells`): on a corpus whose id space has holes or
    // an offset — a live artifact after dedup, appended deltas, any
    // ad-hoc frame — the filter form silently under-provisions the
    // quantizer (asked for 16 cells, trains on however many ids
    // happen to fall under 16). Identical on dense-from-0 fixtures.
    // the cast accepts BOTH array<float> corpora and array<double>
    // ad-hoc frames (float→double is exact, so the float path is
    // unchanged value-for-value — the trainPqCodebooks stance)
    var cents: Array[Array[Double]] =
      normalize(v.orderBy("vec_id").limit(nCells)
        .select(col("embedding").cast("array<double>"))
        .as[Array[Double]].collect())
    for (_ <- 1 to iters) {
      val means = v.select(
          cellOf(cents),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = math.rint(r.getDouble(2) * 1e6) / 1e6
      }
      cents = normalize(next)
    }
    cents
  }

  /** §2 #39 — IVF ANN: a k-means coarse quantizer assigns every vector
    * to its nearest cell; queries probe their `nProbe` nearest cells
    * only. Cell assignment is MAP-ONLY (one codegen'd argmax per row
    * over the broadcast centroid matrix — zero exchanges before the
    * probe), cells are an equi-join key, and the candidate set shrinks
    * by ~nProbe/nCells at any scale. Each neighbor lives in exactly one
    * cell and a query's probed cells are distinct, so candidate pairs
    * are unique by construction — no distinct needed.
    * Approximate (weak oracle) — SimilaritySpec asserts recall vs brute.
    */
  def annIvf(spark: SparkSession, sfDir: String, nCells: Int = 16,
             nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    annIvfWith(v, withTrainCache(v)(trainCentroids(_, nCells)),
      nProbe, nQueries, k)
  }

  /** Training scans the vectors frame once per k-means iteration (and
    * per PQ sub-space) — persist it so the 30-odd training jobs read
    * the cache, not the parquet, exactly as a real deployment trains
    * on a cached sample. Lazy persist: the first training job's scan
    * populates it. SCOPED to training: once the (driver-bounded) model
    * arrays exist the cache is released, so the serving plan reads the
    * source — which is also the only honest option at 100 TB, where the
    * vectors don't fit in cache and a leaked MEMORY_AND_DISK footprint
    * would crowd out every later job's execution memory. */
  private def withTrainCache[M](v: DataFrame)(train: DataFrame => M): M = {
    v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try train(v) finally v.unpersist(blocking = false)
  }

  /** PER-JVM SHARED TRAIN CACHE — the memo the training scaladocs
    * promise ("one training per corpus per JVM", the [[sharedKnnEdgesDir]]
    * / [[graft.operators.TextAnalysis.sharedUnigramModelDir]] doctrine
    * applied to model ARRAYS instead of artifact directories). Keyed by
    * the training input's CANONICALIZED logical plan plus the
    * hyper-params: two trainings share a model iff they read the same
    * source through the same transformations with the same knobs —
    * parquet relations compare by root path, LocalRelations by their
    * rows, ad-hoc RDD-backed frames never compare equal (always train
    * fresh). Training is deterministic by contract (init by first ids,
    * per-iteration 1e-6 mean quantization), so a memo hit returns
    * bit-identical model state to a fresh run — callers, specs and
    * oracles cannot observe the difference, only the wall clock can
    * (a session was re-paying the identical k-means/Procrustes bill
    * once per query; a deployment trains once per corpus version). */
  private val trainedModels = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, String),
    AnyRef]()

  /** Data fingerprint of a training frame's file-backed inputs:
    * (path, length, mtime) of every input file, hashed. Folded into the
    * memo key (ADVICE-r19) so a corpus REBUILT at the same path inside
    * a long-lived JVM invalidates the memo instead of silently serving
    * a model trained on the old contents. Non-file inputs contribute
    * nothing extra: LocalRelations carry their rows in the canonicalized
    * plan, and RDD-backed frames never compare equal (always fresh). */
  private def inputFingerprint(v: DataFrame): String = {
    val files = try v.inputFiles catch { case _: Throwable => Array.empty[String] }
    if (files.isEmpty) ""
    else {
      val conf = v.sparkSession.sparkContext.hadoopConfiguration
      val parts = files.sorted.map { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        } catch { case _: Throwable => f }
      }
      java.util.UUID
        .nameUUIDFromBytes(parts.mkString("\n").getBytes("UTF-8")).toString
    }
  }

  private def memoModel[T <: AnyRef](v: DataFrame, params: String)
                                    (train: => T): T = {
    // get/put, NOT computeIfAbsent: the OPQ trainer calls the PQ
    // trainer on its rotated frame mid-computation, and nested updates
    // of one ConcurrentHashMap throw "Recursive update". A concurrent
    // duplicate training is harmless — training is deterministic, both
    // threads produce the identical model and last-put wins.
    val key = (v.queryExecution.analyzed.canonicalized, inputFingerprint(v),
      params)
    val hit = trainedModels.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val m = train
      // BOUNDED (ADVICE-r19): the memo pins canonicalized plans for the
      // JVM lifetime — past 64 distinct trainings, drop the lot rather
      // than grow without bound (re-training is always correct).
      if (trainedModels.size >= 64) trainedModels.clear()
      trainedModels.put(key, m)
      m
    }
  }

  /** §2 #66 — oracle-checked IVF variant: same map-only assignment and
    * probe pipeline as [[annIvf]], over the STATIC quantizer — so a SQL
    * oracle can replay cell assignment, probing, and ranking exactly
    * (see [[ivfStaticOracle]]). */
  def annIvfStatic(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                   nQueries: Int = 10, k: Int = 5): DataFrame =
    annIvfWith(vectors(spark, sfDir), staticCentroids(), nProbe, nQueries, k)

  private def annIvfWith(v: DataFrame, cents: Array[Array[Double]],
                         nProbe: Int, nQueries: Int, k: Int): DataFrame =
    ivfServe(v, v.filter(col("vec_id") < nQueries), cents, nProbe, k)

  /** TWO-FRAME IVF serving core: score `queries` against `corpus`
    * (both need vec_id, embedding, nrm) through the cell probe — the
    * seam the streaming ANN path reuses per micro-batch (query side
    * broadcast: micro-batches and online query sets are small by
    * construction; the corpus-sized side only ever streams through
    * the cell equi-join). */
  private[graft] def ivfServe(corpus: DataFrame, queries: DataFrame,
                              cents: Array[Array[Double]], nProbe: Int,
                              k: Int): DataFrame =
    rankTopK(candidates(ivfLists(corpus, cents),
      probeFrame(queries, cents, nProbe), exactCos), k)

  /** Batch twin for the streaming ANN path: serve an explicit
    * (vec_id, embedding) query frame against the corpus through the
    * static quantizer. */
  def annServe(spark: SparkSession, sfDir: String, queries: DataFrame,
               nProbe: Int = 4, k: Int = 5): DataFrame =
    ivfServe(vectors(spark, sfDir),
      queries.select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("nrm")),
      staticCentroids(), nProbe, k)

  /** The MATERIALIZED IVF index artifact: centroids + the corpus's cell
    * assignment written ONCE as parquet, inverted-list style. The
    * `assigned/` table is PARTITIONED BY cell, so serving reads only the
    * probed cell directories — static partition pruning for a fixed
    * probe set, Spark's dynamic partition pruning for the broadcast
    * probe join. At 100 TB the index build (train + assign) runs once
    * per corpus version and every query then touches ~nProbe/nCells of
    * the corpus BY LAYOUT, not by filter luck — the ANN analog of
    * [[graft.operators.Dedup.verifiedPairsToDir]]'s asymmetric
    * build-once/serve-many split. */
  def ivfIndexToDir(spark: SparkSession, sfDir: String, dir: String,
                    cents: Array[Array[Double]] = staticCentroids()): Unit =
    ivfIndexBuild(spark,
      vectors(spark, sfDir).select("vec_id", "embedding"), dir, cents)

  /** [[ivfIndexToDir]] over an explicit (vec_id, embedding) corpus
    * frame — the form [[ivfIndexRebuild]] reuses against the live
    * artifact's own rows. Besides `assigned/` + `centroids/` the build
    * lands two version-pinned facts:
    *  - `drift_baseline/` — the build-time per-cell (cnt, dsum) stats
    *    ([[driftStats]]), the baseline [[ivfDriftFromIndex]] monitors
    *    against. Snapshotted AT BUILD because [[ivfIndexCompact]] folds
    *    deltas into `assigned/`: a baseline re-derived from the base
    *    rows would silently reset to the already-drifted population
    *    after every fold and the monitor could never fire (ADVICE r14).
    *  - a `_quantizer_version` marker at the artifact root (fresh
    *    build = 1; [[ivfIndexRebuild]] bumps it) — the fact maintainers
    *    pin at stream start so a mid-stream retrain fails loudly
    *    instead of mixing assignments from two quantizers
    *    ([[graft.streaming.StreamIvfIndex]]). */
  def ivfIndexBuild(spark: SparkSession, vecs: DataFrame, dir: String,
                    cents: Array[Array[Double]] = staticCentroids()): Unit = {
    writeIndexVersion(spark, vecs.select("vec_id", "embedding"), dir, cents)
    graft.streaming.StreamIO.writeMarker(dir, "_quantizer_version", 1L,
      spark.sparkContext.hadoopConfiguration)
  }

  /** One index version's data files (assigned + centroids + drift
    * baseline) into `dir` — shared by the fresh build (marker v1 at the
    * live root) and the rebuild (marker bumped at the STAGED root, so
    * a crash can never leave a bumped version over old data). */
  private def writeIndexVersion(spark: SparkSession, vecs: DataFrame,
                                dir: String,
                                cents: Array[Array[Double]]): Unit = {
    assignWithCentroids(vecs, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned")
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // snapshot from the STORED rows, so the baseline is exactly what
    // serving reads (re-assignment is bit-identical — SimilaritySpec)
    driftStats(spark.read.parquet(s"$dir/assigned"), cents, "base")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/drift_baseline")
  }

  /** The artifact's quantizer version (`_quantizer_version` root
    * marker): 1 at [[ivfIndexBuild]], +1 per [[ivfIndexRebuild]]; None
    * for a pre-versioning artifact. */
  def readIvfQuantizerVersion(spark: SparkSession,
                              dir: String): Option[Long] =
    graft.streaming.StreamIO.readMarker(dir, "_quantizer_version",
      spark.sparkContext.hadoopConfiguration)

  /** Cell assignment of (vec_id, embedding) rows under a given centroid
    * matrix — the map-only inverted-list row shape (cell, vec_id,
    * embedding, nrm) shared by [[ivfIndexToDir]], [[ivfIndexAppend]]
    * and the continuous maintainer
    * [[graft.streaming.StreamIvfIndex]]. */
  private[graft] def assignWithCentroids(vecs: DataFrame,
                                         cents: Array[Array[Double]]): DataFrame =
    vecs.select(
      cellOf(cents),
      col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))

  /** Centroid matrix back from an [[ivfIndexToDir]] artifact (bounded:
    * nCells × dim doubles — model state, never data). Existence
    * resolves through the Hadoop FileSystem of the path's scheme (the
    * [[Sketches.readSketchStates]] stance) — the index a cluster
    * deployment maintains lives on a DFS. */
  def readIvfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no IVF index artifact at $dir — run ivfIndexToDir first")
    spark.read.parquet(s"$dir/centroids").orderBy("cell")
      .collect().map(_.getAs[Seq[Double]]("centroid").toArray)
  }

  /** INCREMENTAL index maintenance: assign a batch of new
    * (vec_id, embedding) vectors with the artifact's OWN centroids and
    * append them to the cell-partitioned inverted lists. Assignment is
    * map-only over the delta; existing partitions are untouched (append
    * mode writes new files into the matching cell directories), so the
    * updated index serves identically to a full rebuild over the
    * combined vector set — SimilaritySpec proves it. The quantizer
    * itself is versioned with the corpus: retrain + rebuild when drift
    * warrants, append between versions (the standard IVF deployment
    * cadence). */
  def ivfIndexAppend(spark: SparkSession, dir: String,
                     vectors: DataFrame): Unit = {
    requireRawIndex(spark, dir)
    val cents = readIvfCentroids(spark, dir)
    assignWithCentroids(vectors, cents)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/assigned")
  }

  /** ARTIFACT COMPACTION / delta GC for the IVF index: fold every
    * `stream/batch_id=N` delta the continuous maintainers
    * ([[graft.streaming.StreamIvfIndex]] /
    * [[graft.streaming.StreamSemanticDedup]]) have landed back into the
    * base cell layout, and drop the folded deltas. Serving reads are
    * identical before and after ([[annServeFromIndex]] unions base +
    * deltas either way — SimilaritySpec proves it), but after 10⁴
    * micro-batches the un-compacted index pays a per-query listing of
    * 10⁴ delta trees and probes cell fragments instead of full-size
    * cell files; the fold restores the build-time layout where a probe
    * touches exactly nProbe cell directories.
    *
    * SINGLE-WRITER contract + crash-safety (the
    * [[graft.streaming.Compaction]] doctrine): run with the maintainers
    * quiesced; the fold commits a `_compacted_through` watermark INSIDE
    * the swapped `assigned/` dir, the maintainers skip a replay of the
    * folded batch and refuse older ids
    * ([[graft.streaming.StreamIO.foldedByCompaction]]), readers ignore
    * any delta at-or-below the watermark
    * ([[readIvfAssignedWithBatchId]] — so a crash between the swap and
    * the delta delete never double-counts), and an interrupted swap is
    * repaired on the next entry. Returns the folded watermark, None if
    * there was nothing to fold.
    *
    * Concurrent READERS: the swap window momentarily removes
    * `assigned/`, so a scan planned across it can see missing files —
    * set `spark.sql.files.ignoreMissingFiles` for in-flight reads
    * (they fall back to the deltas' rows on the next query), or put
    * serving that cannot tolerate the window behind an ACID table
    * format (docs/LAKEHOUSE.md). A read STARTED after the swap is
    * always complete — StreamingSpec's read-after-compact proves it on
    * the graftmock DFS scheme. */
  def ivfIndexCompact(spark: SparkSession, dir: String): Option[Long] = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val assignedDir = s"$dir/assigned"
    val staged = s"$dir/assigned.compact-staging"
    StreamIO.recoverInterruptedSwap(assignedDir, staged,
      "_compacted_through", conf)
    val (fs, streamRoot) = StreamIO.fsFor(s"$dir/stream", conf)
    // deltas already folded by a crashed run (watermark in the swapped
    // base, reads ignoring them) are garbage — collect them first
    val w0 = StreamIO.readMarker(assignedDir, "_compacted_through", conf)
    def deltaIds(): Seq[Long] =
      if (!fs.exists(streamRoot)) Seq.empty
      else fs.listStatus(streamRoot).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
    w0.foreach { w =>
      deltaIds().filter(_ <= w).foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(streamRoot, s"batch_id=$n"), true))
    }
    val live = deltaIds()
    if (live.isEmpty) return None
    val w = live.max
    // one pass: base + live deltas (readIvfAssigned applies the w0
    // filter) rewritten in the build-time cell layout
    readIvfAssigned(spark, dir)
      .write.mode("overwrite").partitionBy("cell").parquet(staged)
    StreamIO.writeMarker(staged, "_compacted_through", w, conf)
    StreamIO.swapInto(staged, assignedDir, conf)
    live.foreach(n => fs.delete(
      new org.apache.hadoop.fs.Path(streamRoot, s"batch_id=$n"), true))
    // drop the emptied delta root: an empty dir would fail parquet
    // schema inference on the next read (and be re-created by the next
    // delta write anyway)
    if (deltaIds().isEmpty) fs.delete(streamRoot, true)
    Some(w)
  }

  /** The RETRAIN action [[ivfDrift]]'s `is_shifted` flag calls for —
    * the last verb of the IVF operational loop (ingest → dedup → serve
    * → compact → monitor → **retrain**). One call against a live
    * artifact: retrain the coarse quantizer on the CURRENT corpus
    * (base + every live delta), rebuild the cell-partitioned layout,
    * reset the drift baseline to the post-rebuild population, and bump
    * the quantizer version — so probe pruning recovers the
    * ~nProbe/nCells candidate fraction drift had inflated
    * ([[ivfDriftImpact]]: recall holds while candidates/query explode;
    * the rebuild is what restores the pruning, and `ivf_rebuild` is
    * the oracle-checked proof).
    *
    * Crash-safety is the whole-artifact stage→swap: the new version
    * (assigned + centroids + drift_baseline + bumped
    * `_quantizer_version`, witnessed LAST by `_rebuild_complete`) is
    * staged beside the artifact and swapped in atomically-enough —
    * an interrupted swap is completed on the next entry, a staging
    * tree from a pre-swap crash is cleared before re-staging
    * (the [[graft.streaming.Compaction]] lesson), and because the
    * version marker travels inside the staged tree a crash can never
    * leave a bumped version over old data. Live deltas are FOLDED into
    * the rebuilt base, so the compaction watermark advances to the max
    * folded batch id: a maintainer replaying that batch skips, older
    * ids fail loudly ([[graft.streaming.StreamIO.foldedByCompaction]]),
    * and a maintainer that pinned the old quantizer version at stream
    * start refuses the NEXT batch loudly
    * ([[graft.streaming.StreamIvfIndex]]) — restart it so it assigns
    * with the new centroids.
    *
    * SINGLE-WRITER contract: run with the maintainers quiesced, like
    * [[ivfIndexCompact]]. READERS: the swap window momentarily removes
    * the artifact root — same two answers as compaction
    * (`spark.sql.files.ignoreMissingFiles` for in-flight scans; an
    * ACID table format for serving that cannot tolerate the window —
    * docs/LAKEHOUSE.md).
    *
    * Scale shape: training is the bounded k-means of [[annIvf]]
    * (nCells × dim model state on the driver, corpus scans stay
    * distributed, cached across the iterations); the rebuild itself is
    * one map-only assignment pass + the cell-partitioned write — the
    * same cost as the initial build, paid once per `is_shifted`, not
    * per query. Returns the new quantizer version. */
  def ivfIndexRebuild(spark: SparkSession, dir: String, nCells: Int = 0,
                      iters: Int = 3): Long = {
    // a whitened artifact's honest retrain re-fits μ/pc too (the
    // distribution that drifted is the RAW one the transform was
    // trained on) and the swap below would drop the whiten/ member —
    // leaving whitened rows behind a raw-looking root. Rebuild those
    // from the raw corpus via ivfWhitenIndexToDir instead.
    requireRawIndex(spark, dir)
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = s"$dir.rebuild-staging"
    StreamIO.recoverInterruptedSwap(dir, staged, "_rebuild_complete", conf)
    StreamIO.deleteRecursively(staged, conf)
    // nCells <= 0 (the default) KEEPS the artifact's current cell
    // count: a drift-triggered rebuild re-fits the centroids, it does
    // not silently re-provision a tuned index to some fixed size
    val n = if (nCells > 0) nCells
            else readIvfCentroids(spark, dir).length
    val corpus = readIvfAssigned(spark, dir).select("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(corpus, n, iters)
      writeIndexVersion(spark, corpus, staged, cents)
      // live deltas are folded into the rebuilt base: advance the
      // compaction watermark so a replay of the last folded batch
      // skips and older ids fail loudly
      val (fs, streamRoot) = StreamIO.fsFor(s"$dir/stream", conf)
      val deltaMax =
        if (!fs.exists(streamRoot)) None
        else fs.listStatus(streamRoot).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("batch_id="))
          .map(_.stripPrefix("batch_id=").toLong)
          .maxOption
      val w0 = StreamIO.readMarker(s"$dir/assigned", "_compacted_through",
        conf)
      (deltaMax ++ w0).maxOption.foreach(w =>
        StreamIO.writeMarker(s"$staged/assigned", "_compacted_through",
          w, conf))
      val v = readIvfQuantizerVersion(spark, dir).getOrElse(0L) + 1
      StreamIO.writeMarker(staged, "_quantizer_version", v, conf)
      // completion witness LAST: recoverInterruptedSwap only installs
      // a staging tree that carries it
      StreamIO.writeMarker(staged, "_rebuild_complete", v, conf)
      StreamIO.swapInto(staged, dir, conf)
      v
    } finally { corpus.unpersist(blocking = false); () }
  }

  /** QUANTIZER-DRIFT MONITOR core: compare the cell-population of the
    * `cur` corpus against the `base` (build-time) corpus under ONE
    * fixed quantizer — the retrain signal the IVF deployment cadence
    * ([[ivfIndexAppend]] / [[graft.streaming.StreamIvfIndex]]) defers
    * to: appended vectors keep the build-time centroids, so when the
    * incoming distribution moves, cells bloat/starve (probe recall and
    * pruning both degrade) and nothing else in the serving path says
    * so. Two measurements per the standard monitoring playbook:
    *  - PSI of cell-population shares (current vs baseline), the
    *    [[TextAnalysis.sourcePsiFrom]] doctrine: 8-dp decimal terms
    *    (order-independent exact sum), terms only over cells populated
    *    on BOTH sides, one-sided cells COUNTED (`n_cells_onesided`)
    *    rather than epsilon-smoothed — at 16 cells the missing-mass is
    *    its own signal. `is_shifted` flags PSI > 0.2 (the industry
    *    screening threshold) = retrain + rebuild, then stream between
    *    versions.
    *  - mean assignment distance (1 − cos to the assigned centroid)
    *    per side: a distribution can keep its cell SHARES while moving
    *    away from every centroid (uniform radial drift), which PSI
    *    cannot see but recall still pays for.
    * Scale shape: two map-only assignments (broadcast centroid
    * matrix), two ≤nCells-row hash aggregates, everything after the
    * per-cell rollup is broadcast arithmetic over ≤nCells rows. */
  def ivfDriftFrom(base: DataFrame, cur: DataFrame,
                   cents: Array[Array[Double]]): DataFrame =
    ivfDriftFromStats(driftStats(base, cents, "base"), cur, cents)

  /** Per-cell population/distance rollup of one corpus under one
    * quantizer — the (cell, cnt, dsum) frame both sides of the PSI
    * monitor reduce to, and the shape [[ivfIndexBuild]] snapshots into
    * the artifact as `drift_baseline/` (ADVICE r14: compaction folds
    * deltas into the base, so a baseline RE-DERIVED from `assigned/`
    * silently resets to the already-drifted population after every
    * fold; the snapshot pins the build-time truth). Map-only
    * assignment + one ≤nCells-row hash aggregate. */
  private[graft] def driftStats(v: DataFrame, cents: Array[Array[Double]],
                                tag: String): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val centDF = cents.zipWithIndex.toSeq
      .map { case (cv, i) => (i, cv.toSeq) }.toDF("cell", "centroid")
    assignWithCentroids(v.select(col("vec_id"), col("embedding")), cents)
      .join(broadcast(centDF), "cell")
      .select(col("cell"),
        round(lit(1.0) - dot(col("embedding"), col("centroid"))
          / col("nrm"), 8)
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("d"))
      .groupBy("cell")
      .agg(count(lit(1)).as(s"${tag}_cnt"), sum(col("d")).as(s"${tag}_dsum"))
  }

  /** [[ivfDriftFrom]] with the baseline side already reduced to its
    * (cell, base_cnt, base_dsum) stats — the form the index monitor
    * uses against the artifact's `drift_baseline/` snapshot, where the
    * build-time corpus itself is long folded away. */
  def ivfDriftFromStats(baseStats: DataFrame, cur: DataFrame,
                        cents: Array[Array[Double]]): DataFrame = {
    val j = baseStats
      .join(driftStats(cur, cents, "cur"), Seq("cell"), "full_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(j)
    val tot = j.agg(sum("base_cnt").as("n_base"), sum("cur_cnt").as("n_cur"),
      sum("base_dsum").as("bd"), sum("cur_dsum").as("cd"))
    val shares = j.crossJoin(broadcast(tot))
      .withColumn("base_share",
        col("base_cnt") / col("n_base").cast("double"))
      .withColumn("cur_share", col("cur_cnt") / col("n_cur").cast("double"))
      .withColumn("term",
        when(col("base_cnt").isNotNull && col("cur_cnt").isNotNull,
          round((col("cur_share") - col("base_share"))
            * log(col("cur_share") / col("base_share")), 8)
            .cast(org.apache.spark.sql.types.DecimalType(18, 8))))
    val summary = shares.agg(sum("term").as("psi_sum"),
      sum(when(col("base_cnt").isNull || col("cur_cnt").isNull, 1L)
        .otherwise(0L)).as("n_cells_onesided"))
    shares.crossJoin(broadcast(summary))
      .select(col("cell").cast("int").as("cell"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
        round(col("base_share"), 6).as("base_share6"),
        round(col("cur_share"), 6).as("cur_share6"),
        col("term").cast("double").as("term8"),
        round(col("psi_sum").cast("double"), 4).as("psi4"),
        col("n_cells_onesided"),
        round(col("bd").cast("double") / col("n_base"), 6).as("base_mdist6"),
        round(col("cd").cast("double") / col("n_cur"), 6).as("cur_mdist6"),
        (coalesce(col("psi_sum").cast("double"), lit(0.0)) > 0.2)
          .as("is_shifted"))
      .orderBy("cell")
  }

  /** §2 #219 — `ivf_drift`: the oracle-checked instantiation of
    * [[ivfDriftFrom]] under the static quantizer, run over BOTH
    * verdict classes so the monitor demonstrates its own
    * discrimination. Baseline = 80% of the embeddings (vec_id % 5 ≠ 0,
    * the "index build" corpus); the remaining 20% is ingested twice:
    *  - scenario `stable`: unchanged — same distribution, PSI must
    *    stay far under the 0.2 threshold (`is_shifted` = false);
    *  - scenario `shifted`: every coordinate mean-shifted by +0.5
    *    (≈ 4σ of the embedding elements — the shifted vectors point
    *    at the all-ones direction and pile into the few cells whose
    *    centroids face it), so the monitor must flag
    *    `is_shifted` = true.
    * Everything — assignment, shares, 8-dp PSI terms, distance terms
    * — is replayed exactly by [[ivfDriftOracle]] (float addition is
    * replayed as double-add-then-cast, exact because a float + 0.5
    * fits double precision). */
  def ivfDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val delta = v.filter(col("vec_id") % 5 === 0)
    val shifted = delta.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val cents = staticCentroids()
    ivfDriftFrom(base, base.unionByName(delta), cents)
      .withColumn("scenario", lit("stable"))
      .unionByName(
        ivfDriftFrom(base, base.unionByName(shifted), cents)
          .withColumn("scenario", lit("shifted")))
      .orderBy("scenario", "cell")
  }

  /** [[ivfDrift]] against a LIVE index artifact: baseline = the
    * artifact's `drift_baseline/` snapshot (per-cell stats pinned at
    * [[ivfIndexBuild]]/[[ivfIndexRebuild]] time), current = base +
    * every live stream delta — the production monitor a deployment
    * schedules beside [[ivfIndexCompact]]. The snapshot is what makes
    * that scheduling safe: compaction folds deltas into `assigned/`,
    * so a baseline re-derived from the base rows (the pre-r15
    * behavior, kept as the fallback for artifacts that predate the
    * snapshot) resets to the already-drifted population at every fold
    * — on a fallback artifact, evaluate drift BEFORE compacting.
    * Cells are re-derived with the artifact's own centroids (one
    * map-only pass, bit-identical to the stored assignment —
    * SimilaritySpec proves the equality to [[ivfDriftFrom]] on the
    * same frames). */
  def ivfDriftFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val cents = readIvfCentroids(spark, dir)
    val all = readIvfAssignedWithBatchId(spark, dir)
    val cur = all.select("vec_id", "embedding")
    val snap = new org.apache.hadoop.fs.Path(s"$dir/drift_baseline")
    val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(snap))
      ivfDriftFromStats(spark.read.parquet(s"$dir/drift_baseline"),
        cur, cents)
    else
      ivfDriftFrom(
        all.filter(col("batch_id").isNull).select("vec_id", "embedding"),
        cur, cents)
  }

  /** §2 #220 — `ivf_drift_impact`: what the drift [[ivfDrift]] flags
    * actually COSTS, measured. For queries drawn from the NEW
    * (post-ingest) distribution, serve them through the unchanged
    * quantizer against the current corpus and publish, per scenario:
    * recall@k vs the brute truth over the same corpus, and the probed
    * candidate volume (the pruning bill — probed-cell population sums,
    * no vector join). The drifted scenario's signature is the real
    * IVF failure mode: recall can HOLD (the new vectors crowd into the
    * same cells their neighbors landed in) while the candidate volume
    * per query explodes toward a full scan — pruning, not recall, is
    * what dies first, which is why `is_shifted` means retrain even
    * when spot-checked answers still look right. Same deterministic
    * scenario construction as [[ivfDrift]]; everything is replayed by
    * [[ivfDriftImpactOracle]]. */
  def ivfDriftImpact(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                     k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = staticCentroids()
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val stable = v.filter(col("vec_id") % 5 === 0)
    val shifted = stable.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    def withNrm(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    def one(tag: String, delta: DataFrame): DataFrame = {
      val corpus = withNrm(base.unionByName(delta))
      val queries = withNrm(delta.filter(col("vec_id") < nQueries * 5))
      // brute truth over the CURRENT corpus (broadcast query side)
      val truth = rankTopK(candidates(candVecs(corpus), queryVecs(queries),
          exactCos), k)
        .select("query_id", "neighbor_id")
      val served = ivfServe(corpus, queries, cents, nProbe, k)
        .select("query_id", "neighbor_id")
      // the pruning bill: probed-cell population, no vector join (each
      // query's own vector sits in its probed top cell — subtract)
      val cellCounts = corpus.select(cellOf(cents))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val nCand = queries
        .select(col("vec_id").as("query_id"), explode(cellsOf(nProbe)).as("cell"))
        .join(cellCounts, Seq("cell"))
        .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
      val hits = served.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .crossJoin(nCand)
        .select(lit(tag).as("scenario"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall4"),
          col("n_candidates"),
          round(col("n_candidates") / lit(nQueries.toDouble), 2)
            .as("cand_per_query2"))
    }
    one("stable", stable).unionByName(one("shifted", shifted))
      .orderBy("scenario")
  }

  /** DuckDB oracle for [[ivfDriftImpact]]: per-scenario corpus CTEs,
    * the ranked-assignment replay, brute truth, probe serve, and the
    * probed-cell population sum — unioned. */
  def ivfDriftImpactOracle(nQueries: Int = 10, k: Int = 5,
                           nProbe: Int = 4): String = {
    val cents = staticCentroids()
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val qCap = nQueries * 5
    def scen(tag: String, deltaSrc: String) =
      s"""${tag}_n AS (SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS nrm
           FROM (SELECT * FROM base UNION ALL SELECT * FROM $deltaSrc)),
         ${tag}_ranked AS (
           SELECT v.vec_id, v.embedding, v.nrm, c.cell,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
           FROM ${tag}_n v, cents c),
         ${tag}_assigned AS (SELECT cell, vec_id AS neighbor_id,
             embedding AS e_c, nrm AS n_c
           FROM ${tag}_ranked WHERE crnk = 1),
         ${tag}_cc AS (SELECT cell, count(*) AS cnt
           FROM ${tag}_assigned GROUP BY 1),
         ${tag}_truth AS (SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                   DESC, c.vec_id) AS rnk
             FROM ${tag}_n q JOIN ${tag}_n c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 5 = 0 AND q.vec_id < $qCap)
           WHERE rnk <= $k)"""
    def sel(tag: String) =
      s"""SELECT '$tag' AS scenario,
           (SELECT CAST(count(*) AS BIGINT) FROM ${tag}_truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT pr.query_id, a.neighbor_id,
                    row_number() OVER (PARTITION BY pr.query_id ORDER BY
                      ${dotSql("pr.e_q", "a.e_c")} / (pr.n_q * a.n_c) DESC,
                      a.neighbor_id) AS rnk
                  FROM (SELECT cell, vec_id AS query_id, embedding AS e_q,
                          nrm AS n_q
                        FROM ${tag}_ranked
                        WHERE crnk <= $nProbe AND vec_id % 5 = 0
                          AND vec_id < $qCap) pr
                  JOIN ${tag}_assigned a ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id) i
            JOIN ${tag}_truth t ON t.query_id = i.query_id
                               AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ${tag}_ranked
                  WHERE crnk <= $nProbe AND vec_id % 5 = 0
                    AND vec_id < $qCap) pp
            JOIN ${tag}_cc cc USING (cell)) AS n_candidates"""
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta_stable AS (SELECT vec_id, embedding FROM embeddings
                         WHERE vec_id % 5 = 0),
        delta_shifted AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM embeddings WHERE vec_id % 5 = 0),
        ${scen("stable", "delta_stable")},
        ${scen("shifted", "delta_shifted")}
       SELECT scenario, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall4,
         n_candidates,
         round(n_candidates / CAST($nQueries AS DOUBLE), 2)
           AS cand_per_query2
       FROM (${sel("stable")} UNION ALL ${sel("shifted")})
       ORDER BY scenario"""
  }

  /** Impact metrics ([[ivfDriftImpact]]'s measurement core) served
    * FROM a live artifact: brute truth over the artifact corpus, probe
    * hits through the stored cell layout, and the probed-cell
    * candidate volume, for a (vec_id, embedding) query frame whose
    * vectors are in the corpus (the own-vector probe row is
    * subtracted from the candidate bill, as in [[ivfDriftImpact]]). */
  private[graft] def ivfImpactFromIndex(spark: SparkSession, dir: String,
                                        queries: DataFrame, nQueries: Int,
                                        k: Int, nProbe: Int): DataFrame = {
    val cents = readIvfCentroids(spark, dir)
    val assigned = readIvfAssigned(spark, dir)
    val q = queries.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val truth = rankTopK(candidates(candVecs(assigned), queryVecs(q),
        exactCos), k)
      .select("query_id", "neighbor_id")
    val served = annServeFromIndex(spark, dir,
        queries.select("vec_id", "embedding"), nProbe, k)
      .select("query_id", "neighbor_id")
    val cellCounts = assigned.groupBy("cell").agg(count(lit(1)).as("cnt"))
    val nCand = q.select(col("vec_id").as("query_id"),
        explode(graft.functions.VectorQuantize.nearestCells(
          col("embedding"), cents, nProbe)).as("cell"))
      .join(cellCounts, Seq("cell"))
      .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
    val hits = served.join(truth, Seq("query_id", "neighbor_id"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
      .crossJoin(broadcast(nCand))
      .select(col("n_truth"), col("n_hit"),
        round(col("n_hit") / col("n_truth"), 4).as("recall4"),
        col("n_candidates"),
        round(col("n_candidates") / lit(nQueries.toDouble), 2)
          .as("cand_per_query2"))
  }

  /** §2 #221 — `ivf_rebuild`: the measured proof of
    * [[ivfIndexRebuild]] on [[ivfDrift]]'s drifted scenario, exercised
    * through the REAL artifact path end-to-end. Build the index on the
    * 80% base (static quantizer), land the mean-shifted 20% as a live
    * stream delta (the [[graft.streaming.StreamIvfIndex]] shape), and
    * publish the monitor + impact summary per phase:
    *  - `pre` (drifted, old quantizer): `is_shifted` fires (PSI > 0.2
    *    against the build-time `drift_baseline/` snapshot) and the
    *    probed candidate volume is inflated — the [[ivfDriftImpact]]
    *    signature where pruning, not recall, is what drift kills;
    *  - `post` (after [[ivfIndexRebuild]]): PSI is exactly 0 against
    *    the RESET baseline (the monitor restarts from the rebuilt
    *    population) and the candidate volume is restored toward the
    *    balanced ~nProbe/nCells fraction, at recall ≥ the pre phase.
    * The oracle ([[ivfRebuildOracle]]) replays both phases — the post
    * quantizer is the deterministically-trained k-means the oracle
    * inlines, the [[ivfTrainedOracle]] doctrine. */
  def ivfRebuild(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                 k: Int = 5, nProbe: Int = 4, nCells: Int = 16): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val shifted = v.filter(col("vec_id") % 5 === 0).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    // per-run UUID subdir: concurrent runs must not overwrite each
    // other's artifact mid-read (the annIvfIndexed stance)
    val dir = ExportImport.scratch(
      s"ivf-rebuild/run-${java.util.UUID.randomUUID()}")
    ivfIndexBuild(spark, base, dir, staticCentroids())
    graft.streaming.StreamIvfIndex.applyBatch(shifted, 0L, dir)
    val queries = shifted.filter(col("vec_id") < nQueries * 5)
    def phase(tag: String): DataFrame =
      ivfDriftFromIndex(spark, dir)
        .agg(max("psi4").as("psi4"), max("is_shifted").as("is_shifted"),
          max("n_cells_onesided").as("n_cells_onesided"))
        .crossJoin(broadcast(
          ivfImpactFromIndex(spark, dir, queries, nQueries, k, nProbe)))
        .select(lit(tag).as("phase"), col("psi4"), col("is_shifted"),
          col("n_cells_onesided"), col("n_truth"), col("n_hit"),
          col("recall4"), col("n_candidates"), col("cand_per_query2"))
    // the pre-phase summary must be MATERIALIZED before the rebuild
    // mutates the artifact under the lazy plan (1 row — bounded
    // witness, the convergence-witness stance)
    val pre = phase("pre").collect().toSeq
    ivfIndexRebuild(spark, dir, nCells)
    val post = phase("post")
    spark.createDataFrame(
        spark.sparkContext.parallelize(pre, 1), post.schema)
      .unionByName(post)
      .orderBy("phase")
  }

  /** DuckDB oracle for [[ivfRebuild]]: the pre phase replays the
    * static-quantizer drift + impact formulas over the drifted corpus
    * (baseline = the base-only rows of the same ranked assignment);
    * the post phase replays them under the INLINED retrained
    * centroids, with baseline = the corpus itself (the reset
    * semantics, so every PSI term cancels to 0 exactly). Training is
    * taken as given, the [[ivfTrainedOracle]] doctrine: deterministic
    * seeds + per-iteration 1e-6 mean quantization make the k-means
    * replayable from either the in-memory union or the artifact's
    * parquet rows (float storage is exact). */
  def ivfRebuildOracle(nQueries: Int = 10, k: Int = 5, nProbe: Int = 4,
                       nCells: Int = 16): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val shifted = v.filter(col("vec_id") % 5 === 0).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val postCents = trainCentroids(
      v.filter(col("vec_id") % 5 =!= 0).unionByName(shifted), nCells)
    def centRows(cents: Array[Array[Double]]) =
      cents.zipWithIndex.map { case (c, i) =>
        s"(${i}, ${c.mkString("[", ", ", "]")})"
      }.mkString(", ")
    val qCap = nQueries * 5
    // ranked assignment of the drifted corpus under one centroid table
    def ranked(tag: String, cents: String) =
      s"""${tag}_ranked AS (
           SELECT v.vec_id, v.embedding, c.cell,
             ${dotSql("v.embedding", "c.cv")} AS dp,
             sqrt(${dotSql("v.embedding", "v.embedding")}) AS nrm,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
           FROM cur v, $cents c)"""
    // per-cell (cnt, dsum) stats over a crnk=1 slice
    def stat(tag: String, name: String, pre: String, where: String) =
      s"""${name} AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(1.0 - dp / nrm, 8) AS DECIMAL(18,8)))
               AS ${pre}_dsum
           FROM ${tag}_ranked WHERE crnk = 1$where GROUP BY cell)"""
    // PSI of cur vs baseline (the ivfDriftOracle formulas)
    def psi(tag: String) =
      s"""${tag}_j AS (SELECT b.base_cnt, c.cur_cnt
           FROM ${tag}_bstat b FULL OUTER JOIN ${tag}_cstat c
             ON b.cell = c.cell),
         ${tag}_tot AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS n_base,
             CAST(sum(cur_cnt) AS BIGINT) AS n_cur FROM ${tag}_j),
         ${tag}_summary AS (SELECT sum(term) AS psi_sum,
             CAST(sum(CASE WHEN base_cnt IS NULL OR cur_cnt IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_onesided
           FROM (SELECT base_cnt, cur_cnt,
             CASE WHEN base_cnt IS NOT NULL AND cur_cnt IS NOT NULL THEN
               CAST(round(
                 (cur_cnt / CAST(n_cur AS DOUBLE)
                   - base_cnt / CAST(n_base AS DOUBLE))
                 * ln((cur_cnt / CAST(n_cur AS DOUBLE))
                   / (base_cnt / CAST(n_base AS DOUBLE))), 8)
                 AS DECIMAL(18,8)) END AS term
             FROM ${tag}_j, ${tag}_tot))"""
    // brute truth + probed-cell candidate bill over the same ranked CTE
    def impact(tag: String) =
      s"""${tag}_truth AS (SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                   DESC, c.vec_id) AS rnk
             FROM ${tag}_ranked q
             JOIN ${tag}_ranked c ON c.crnk = 1 AND c.vec_id <> q.vec_id
             WHERE q.crnk = 1 AND q.vec_id % 5 = 0 AND q.vec_id < $qCap)
           WHERE rnk <= $k),
         ${tag}_cc AS (SELECT cell, count(*) AS cnt
           FROM ${tag}_ranked WHERE crnk = 1 GROUP BY 1)"""
    def sel(tag: String) =
      s"""SELECT '$tag' AS phase,
           round(CAST((SELECT psi_sum FROM ${tag}_summary) AS DOUBLE), 4)
             AS psi4,
           coalesce(CAST((SELECT psi_sum FROM ${tag}_summary) AS DOUBLE),
             0.0) > 0.2 AS is_shifted,
           (SELECT n_cells_onesided FROM ${tag}_summary)
             AS n_cells_onesided,
           (SELECT CAST(count(*) AS BIGINT) FROM ${tag}_truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT pr.query_id, a.neighbor_id,
                    row_number() OVER (PARTITION BY pr.query_id ORDER BY
                      ${dotSql("pr.e_q", "a.e_c")} / (pr.n_q * a.n_c) DESC,
                      a.neighbor_id) AS rnk
                  FROM (SELECT cell, vec_id AS query_id,
                          embedding AS e_q, nrm AS n_q
                        FROM ${tag}_ranked
                        WHERE crnk <= $nProbe AND vec_id % 5 = 0
                          AND vec_id < $qCap) pr
                  JOIN (SELECT cell, vec_id AS neighbor_id,
                          embedding AS e_c, nrm AS n_c
                        FROM ${tag}_ranked WHERE crnk = 1) a
                    ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id) i
            JOIN ${tag}_truth t ON t.query_id = i.query_id
                               AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k) AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ${tag}_ranked
                  WHERE crnk <= $nProbe AND vec_id % 5 = 0
                    AND vec_id < $qCap) pp
            JOIN ${tag}_cc cc USING (cell)) AS n_candidates"""
    s"""WITH cents_pre(cell, cv) AS (VALUES ${centRows(staticCentroids())}),
        cents_post(cell, cv) AS (VALUES ${centRows(postCents)}),
        cur AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 5 <> 0
                UNION ALL
                SELECT vec_id,
                  list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
                    AS embedding
                FROM embeddings WHERE vec_id % 5 = 0),
        ${ranked("pre", "cents_pre")},
        ${ranked("post", "cents_post")},
        ${stat("pre", "pre_bstat", "base", " AND vec_id % 5 <> 0")},
        ${stat("pre", "pre_cstat", "cur", "")},
        ${stat("post", "post_cstat", "cur", "")},
        post_bstat AS (SELECT cell, cur_cnt AS base_cnt,
            cur_dsum AS base_dsum FROM post_cstat),
        ${psi("pre")},
        ${psi("post")},
        ${impact("pre")},
        ${impact("post")}
       SELECT phase, psi4, is_shifted, n_cells_onesided, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall4,
         n_candidates,
         round(n_candidates / CAST($nQueries AS DOUBLE), 2)
           AS cand_per_query2
       FROM (${sel("pre")} UNION ALL ${sel("post")})
       ORDER BY phase"""
  }

  /** DuckDB oracle for [[ivfDrift]]: centroids inlined as VALUES, the
    * ranked-assignment replay of [[ivfStaticOracle]], same 8-dp decimal
    * terms, same one-sided-cell accounting, both scenarios replayed
    * and unioned. */
  def ivfDriftOracle(): String = {
    val cents = staticCentroids()
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    // ranked-assignment replay + per-cell count/distance rollup for one
    // corpus CTE; columns named by `pre` so base stats join two
    // scenario stats without collisions
    def stats(src: String, tag: String, pre: String) =
      s"""${tag}_scored AS (
           SELECT v.vec_id, c.cell,
             ${dotSql("v.embedding", "c.cv")} AS dp,
             sqrt(${dotSql("v.embedding", "v.embedding")}) AS nrm,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
           FROM $src v, cents c),
         ${tag}_stat AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(1.0 - dp / nrm, 8) AS DECIMAL(18,8)))
               AS ${pre}_dsum
           FROM ${tag}_scored WHERE crnk = 1 GROUP BY cell)"""
    // per-scenario join/totals/shares/summary over base_stat + the
    // scenario's cur stat
    def scen(tag: String) =
      s"""${tag}_j AS (SELECT coalesce(b.cell, c.cell) AS cell,
             b.base_cnt, b.base_dsum, c.cur_cnt, c.cur_dsum
           FROM base_stat b FULL OUTER JOIN ${tag}_stat c
             ON b.cell = c.cell),
         ${tag}_tot AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS n_base,
             CAST(sum(cur_cnt) AS BIGINT) AS n_cur,
             sum(base_dsum) AS bd, sum(cur_dsum) AS cd FROM ${tag}_j),
         ${tag}_shares AS (SELECT cell, base_cnt, cur_cnt,
             base_cnt / CAST(n_base AS DOUBLE) AS base_share,
             cur_cnt / CAST(n_cur AS DOUBLE) AS cur_share,
             CASE WHEN base_cnt IS NOT NULL AND cur_cnt IS NOT NULL THEN
               CAST(round(
                 (cur_cnt / CAST(n_cur AS DOUBLE)
                   - base_cnt / CAST(n_base AS DOUBLE))
                 * ln((cur_cnt / CAST(n_cur AS DOUBLE))
                   / (base_cnt / CAST(n_base AS DOUBLE))), 8)
                 AS DECIMAL(18,8)) END AS term
           FROM ${tag}_j, ${tag}_tot),
         ${tag}_summary AS (SELECT sum(term) AS psi_sum,
             CAST(sum(CASE WHEN base_cnt IS NULL OR cur_cnt IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_onesided
           FROM ${tag}_shares)"""
    def sel(tag: String, label: String) =
      s"""SELECT '$label' AS scenario, CAST(s.cell AS INTEGER) AS cell,
           coalesce(s.base_cnt, 0) AS base_cnt,
           coalesce(s.cur_cnt, 0) AS cur_cnt,
           round(s.base_share, 6) AS base_share6,
           round(s.cur_share, 6) AS cur_share6,
           CAST(s.term AS DOUBLE) AS term8,
           round(CAST(m.psi_sum AS DOUBLE), 4) AS psi4,
           m.n_cells_onesided,
           round(CAST(t.bd AS DOUBLE) / t.n_base, 6) AS base_mdist6,
           round(CAST(t.cd AS DOUBLE) / t.n_cur, 6) AS cur_mdist6,
           coalesce(CAST(m.psi_sum AS DOUBLE), 0.0) > 0.2 AS is_shifted
         FROM ${tag}_shares s, ${tag}_summary m, ${tag}_tot t"""
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 5 = 0),
        cur_stable AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
        cur_shifted AS (SELECT * FROM base UNION ALL
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM delta),
        ${stats("base", "base", "base")},
        ${stats("cur_stable", "stable", "cur")},
        ${stats("cur_shifted", "shifted", "cur")},
        ${scen("stable")},
        ${scen("shifted")}
       ${sel("stable", "stable")}
       UNION ALL
       ${sel("shifted", "shifted")}
       ORDER BY scenario, cell"""
  }

  /** PQ-DISTORTION rollup of one corpus under one codebook set: per
    * sub-space `(m, cnt, esum)` where the per-(vector, sub-space) term
    * is the exact squared reconstruction error of the CHOSEN codeword,
    * `round(‖s‖² − 2·dot(s,c) − 2·bias(c), 8)` as DECIMAL(18,8) — with
    * bias = −‖c‖²/2 the three-term form IS ‖s−c‖², spelled so a SQL
    * replay adds the same doubles in the same order, and the decimal
    * sum is order-independent (the [[driftStats]] doctrine one level
    * down the compression stack). This is the quantity ADC serving
    * loses: the shortlist score is dot(q, c) instead of dot(q, s), so
    * growing ‖s−c‖² IS growing shortlist error — a distortion monitor
    * needs no query set.
    *
    * Scale shape: ONE stacked map-only pass over the corpus (the
    * [[trainPqCodebooks]] iteration shape — each row explodes into
    * nSub (m, sub-vector) rows in-task, codebooks ride along as
    * broadcast literals) + one ≤nSub-row hash aggregate. */
  private[graft] def pqDistortionStats(v: DataFrame,
      cbs: Array[Array[Array[Double]]], tag: String): DataFrame = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val stackArgs = (0 until nSub)
      .map(mi => s"$mi, slice(embedding, ${mi * sub + 1}, $sub)")
      .mkString(", ")
    val errCol = (0 until nSub).foldLeft(lit(null).cast("double")) {
      (acc, mi) =>
        val code = element_at(graft.functions.VectorQuantize
          .nearestCellsBiased(col("s"), cbs(mi), l2Biases(cbs(mi)), 1), 1)
        val cw = element_at(typedLit(cbs(mi).map(_.toSeq).toSeq), code + 1)
        val bias = element_at(typedLit(l2Biases(cbs(mi)).toSeq), code + 1)
        when(col("m") === mi,
          dot(col("s"), col("s")) - lit(2.0) * dot(col("s"), cw)
            - lit(2.0) * bias).otherwise(acc)
    }
    v.select(expr(s"stack($nSub, $stackArgs) AS (m, s)"))
      .select(col("m"), round(errCol, 8)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("e"))
      .groupBy("m")
      .agg(count(lit(1)).as(s"${tag}_cnt"), sum(col("e")).as(s"${tag}_esum"))
  }

  /** PQ-STALENESS verdict from a build-time baseline: per sub-space,
    * mean squared reconstruction error of the CURRENT corpus under the
    * FIXED codebooks vs the baseline stats pinned when those codebooks
    * were trained ([[ivfPqIndexAdd]]'s `pq_baseline/` snapshot — the
    * `drift_baseline/` doctrine applied to the PQ leg, because a
    * baseline re-derived from the base rows would silently reset to
    * the already-drifted population after every compaction fold).
    * `is_stale` flags `ratio4 > staleRatio` — both engines compare the
    * SAME 6-dp/4-dp rounded doubles, so the verdict replays exactly. */
  def pqDriftFromStats(baseStats: DataFrame, cur: DataFrame,
                       cbs: Array[Array[Array[Double]]],
                       staleRatio: Double = 1.5): DataFrame =
    baseStats.join(pqDistortionStats(cur, cbs, "cur"), Seq("m"))
      .select(col("m").cast("int").as("m"),
        col("base_cnt"), col("cur_cnt"),
        round(col("base_esum").cast("double") / col("base_cnt"), 6)
          .as("base_mse6"),
        round(col("cur_esum").cast("double") / col("cur_cnt"), 6)
          .as("cur_mse6"))
      .withColumn("ratio4", round(col("cur_mse6") / col("base_mse6"), 4))
      .withColumn("is_stale", col("ratio4") > staleRatio)
      .orderBy("m")

  /** §2 #225 — `pq_drift`: the PQ-leg staleness monitor, oracle-checked
    * over both verdict classes (the [[ivfDrift]] experiment one level
    * down the compression stack). [[ivfPqIndexAdd]]'s re-sync path
    * deliberately REUSES stored codebooks, so after a drifted ingest is
    * folded into the base the re-encoded codes stay marker-consistent
    * (`_synced_to` passes) while ADC distortion grows — the shortlist
    * degrades with nothing in the serving path saying so. This is the
    * measurement that says so. Codebooks train on the 80% base slice
    * (the "index build" corpus — [[trainPqCodebooks]]' deterministic
    * init draws the base's own first 16 rows by id; the oracle inlines
    * EXACTLY the trained model); the held-out 20% is ingested twice:
    *  - scenario `stable`: unchanged — same distribution, per-sub-space
    *    reconstruction error stays ≈ baseline (`is_stale` = false);
    *  - scenario `shifted`: every coordinate +0.5 (≈ 4σ) — the
    *    sub-vectors leave the codeword cloud, distortion jumps an
    *    order of magnitude, every sub-space must flag `is_stale`.
    * Everything downstream of the trained model — code argmin, the
    * three-term error, 8-dp decimal sums, 6-dp means, the 4-dp ratio
    * and the flag — is replayed exactly by [[pqDriftOracle]]. */
  def pqDrift(spark: SparkSession, sfDir: String,
              staleRatio: Double = 1.5): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val delta = v.filter(col("vec_id") % 5 === 0)
    val shifted = delta.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val cbs = withTrainCache(base)(trainPqCodebooks(_))
    val baseStats = pqDistortionStats(base, cbs, "base")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(baseStats)
    def scen(tag: String, cur: DataFrame) =
      pqDriftFromStats(baseStats, cur, cbs, staleRatio)
        .withColumn("scenario", lit(tag))
    scen("stable", base.unionByName(delta))
      .unionByName(scen("shifted", base.unionByName(shifted)))
      .select(col("scenario"), col("m"), col("base_cnt"), col("cur_cnt"),
        col("base_mse6"), col("cur_mse6"), col("ratio4"), col("is_stale"))
      .orderBy("scenario", "m")
  }

  /** DuckDB replay of [[pqDrift]]: trained codebooks + biases inlined
    * (the [[pqTrainedOracle]] stance), per-corpus sub-vector explode,
    * code argmin (biased dot DESC, code ASC), the SAME three-term 8-dp
    * decimal error, and the shared-baseline join per scenario. */
  def pqDriftOracle(staleRatio: Double = 1.5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val cbs = withTrainCache(v.filter(col("vec_id") % 5 =!= 0))(
      trainPqCodebooks(_))
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    def stats(src: String, tag: String, pre: String) =
      s"""${tag}_sub AS (SELECT v.vec_id, mm.m AS m,
             v.embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
           FROM $src v, (SELECT unnest(range(0, $nSub)) AS m) mm),
         ${tag}_coded AS (SELECT vec_id, m, s, cv, bias FROM (
             SELECT t.vec_id, t.m, t.s, cb.cv, cb.bias,
               row_number() OVER (PARTITION BY t.vec_id, t.m
                 ORDER BY (${dotSql("t.s", "cb.cv")} + cb.bias) DESC,
                   cb.kk) AS r
             FROM ${tag}_sub t JOIN cb ON cb.m = t.m) WHERE r = 1),
         ${tag}_stat AS (SELECT m, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(${dotSql("s", "s")} - 2 * ${dotSql("s", "cv")}
               - 2 * bias, 8) AS DECIMAL(18,8))) AS ${pre}_esum
           FROM ${tag}_coded GROUP BY m)"""
    def scen(tag: String) =
      s"""${tag}_row AS (SELECT b.m, b.base_cnt, c.cur_cnt,
             round(CAST(b.base_esum AS DOUBLE) / b.base_cnt, 6)
               AS base_mse6,
             round(CAST(c.cur_esum AS DOUBLE) / c.cur_cnt, 6) AS cur_mse6
           FROM base_stat b JOIN ${tag}_stat c USING (m))"""
    def sel(tag: String, label: String) =
      s"""SELECT '$label' AS scenario, CAST(m AS INTEGER) AS m,
           base_cnt, cur_cnt, base_mse6, cur_mse6,
           round(cur_mse6 / base_mse6, 4) AS ratio4,
           round(cur_mse6 / base_mse6, 4) > $staleRatio AS is_stale
         FROM ${tag}_row"""
    s"""WITH cb(m, kk, cv, bias) AS (VALUES $cbRows),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 5 = 0),
        cur_stable AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
        cur_shifted AS (SELECT * FROM base UNION ALL
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM delta),
        ${stats("base", "base", "base")},
        ${stats("cur_stable", "stable", "cur")},
        ${stats("cur_shifted", "shifted", "cur")},
        ${scen("stable")},
        ${scen("shifted")}
       ${sel("stable", "stable")}
       UNION ALL
       ${sel("shifted", "shifted")}
       ORDER BY scenario, m"""
  }

  /** [[pqDrift]] against a LIVE index artifact: baseline = the
    * `pq_baseline/` snapshot [[ivfPqIndexAdd]] pins whenever it TRAINS
    * codebooks (fresh add or `retrain = true` — never on a re-sync,
    * which is exactly what keeps the monitor honest across compaction
    * folds), current = base + every live stream delta. This closes the
    * last silent-degradation path in the ANN serving family: the
    * marker discipline proves the codes COVER the corpus, this proves
    * they still FIT it. On `is_stale`, the action is
    * `ivfPqIndexAdd(retrain = true)` (codebooks re-trained on the
    * current base, codes re-encoded, baseline re-pinned) — wired into
    * the one-call cadence by [[graft.api.Graft.maintainIvfIndex]]. */
  def pqDriftFromIndex(spark: SparkSession, dir: String,
                       staleRatio: Double = 1.5): DataFrame = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, p) = StreamIO.fsFor(s"$dir/pq_baseline", conf)
    require(fs.exists(p),
      s"no PQ distortion baseline at $dir/pq_baseline — ivfPqIndexAdd " +
        "pins it when it trains codebooks; a pre-pq_drift artifact " +
        "needs one retrain (ivfPqIndexAdd(retrain = true)) to start " +
        "monitoring")
    val cbs = readPqCodebooks(spark, dir)
    // measure distortion in the leg's ENCODING space: a residual leg's
    // codes approximate e − c(e), an OPQ leg's approximate R·enc — that
    // is the reconstruction whose error degrades its ADC shortlist
    // (and the space the baseline was pinned in); a torn codebook unit
    // refuses
    val residualMode = readResidualMode(spark, dir)
    val cur0 =
      if (residualMode) {
        val centArr = typedLit(
          readIvfCentroids(spark, dir).map(_.toSeq).toSeq)
        readIvfAssigned(spark, dir).select(col("vec_id"),
          zip_with(col("embedding"), element_at(centArr, col("cell") + 1),
            (x, c) => x.cast("double") - c).as("embedding"))
      } else readIvfAssigned(spark, dir).select("vec_id", "embedding")
    val cur =
      if (readPqRotationMode(spark, dir))
        cur0.select(col("vec_id"),
          rotCol(readPqRotation(spark, dir), col("embedding"))
            .as("embedding"))
      else cur0
    pqDriftFromStats(spark.read.parquet(s"$dir/pq_baseline"),
      cur, cbs, staleRatio)
  }

  /** The full inverted-list table of an index artifact: the base build
    * plus any `stream/batch_id=N` deltas the continuous maintainer
    * ([[graft.streaming.StreamIvfIndex]]) has landed — so serving sees
    * continuously-ingested vectors with no code change. Existence of
    * the delta root resolves through the Hadoop FileSystem of the
    * path's scheme (same stance as
    * [[Sketches.readSketchStates]]). Cell partition pruning holds on
    * both legs: `cell` is a partition column of the base AND of every
    * delta batch. */
  def readIvfAssigned(spark: SparkSession, dir: String): DataFrame =
    readIvfAssignedWithBatchId(spark, dir).drop("batch_id")

  /** [[readIvfAssigned]] keeping the delta provenance: base rows carry
    * a null `batch_id`, delta rows their partition's — the column the
    * replay-exclusion reads of the continuous maintainers
    * ([[graft.streaming.StreamSemanticDedup]]) filter on. Deltas at or
    * below the base's `_compacted_through` watermark are EXCLUDED:
    * their rows are already folded into the base by
    * [[ivfIndexCompact]], and a crashed compaction (swap committed,
    * delta delete pending) must not double-count them. */
  private[graft] def readIvfAssignedWithBatchId(spark: SparkSession,
                                                dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/assigned")
      .withColumn("batch_id", lit(null).cast("long"))
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$dir/stream")
    val fs = deltaRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bare existence is not enough: an emptied delta root (all batches
    // folded) would fail parquet schema inference
    val hasDeltas = fs.exists(deltaRoot) && fs.listStatus(deltaRoot)
      .exists(_.getPath.getName.startsWith("batch_id="))
    if (hasDeltas) {
      val deltas = spark.read.parquet(s"$dir/stream")
        .withColumn("batch_id", col("batch_id").cast("long"))
      val folded = graft.streaming.StreamIO.readMarker(
        s"$dir/assigned", "_compacted_through",
        spark.sparkContext.hadoopConfiguration)
      val live = folded.map(w => deltas.filter(col("batch_id") > w))
        .getOrElse(deltas)
      base.unionByName(live.select(base.columns.map(col).toSeq: _*))
    } else base
  }

  /** Refuse RAW-SPACE access to a whitened artifact: an
    * [[ivfWhitenIndexToDir]] build stores every inverted-list row in
    * whitened space, so scoring raw queries (or appending raw
    * vectors) against it silently mixes two geometries — the exact
    * failure the `_rotation` marker doctrine exists to prevent, one
    * transform earlier in the pipeline. Raw artifacts (no `_whiten`
    * marker) pass untouched; whitened callers go through
    * [[annServeWhitenedFromIndex]] / [[ivfWhitenIndexAppend]], which
    * apply the stored transform. */
  private def requireRawIndex(spark: SparkSession, dir: String): Unit =
    require(!graft.streaming.StreamIO.readMarker(dir, "_whiten",
        spark.sparkContext.hadoopConfiguration).contains(1L),
      s"index artifact at $dir carries _whiten = 1 (its rows are " +
        "stored in whitened space) — raw-space serving or maintenance " +
        "would silently mix geometries. Serve through " +
        "annServeWhitenedFromIndex / append through " +
        "ivfWhitenIndexAppend (they apply the stored transform).")

  /** Serve (vec_id, embedding) queries straight from the index
    * artifact: no re-train, no corpus re-assignment — broadcast probes
    * join the cell-partitioned inverted lists. */
  def annServeFromIndex(spark: SparkSession, dir: String, queries: DataFrame,
                        nProbe: Int = 4, k: Int = 5): DataFrame = {
    val (cents, lists) = indexLists(spark, dir)
    rankTopK(candidates(lists,
      probeFrame(queries, cents, nProbe, l2norm(col("embedding"))),
      exactCos), k)
  }

  /** §2 #150 — IVF serving FROM THE ARTIFACT: build the index once
    * (static quantizer, so [[ivfStaticOracle]] replays the whole
    * pipeline), then serve the standard query set from it. Output is
    * identical to [[annIvfStatic]] by construction — same assignment,
    * same probes, same ranking — which the shared oracle and
    * SimilaritySpec both pin. */
  def annIvfIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                    nQueries: Int = 10, k: Int = 5): DataFrame =
    serveFreshIndex(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annServeFromIndex(spark, _, _, nProbe, k))

  /** SQ8 serving FROM an IVF index artifact: like
    * [[annServeFromIndex]] but stage 1 scores the probed cells with
    * [[graft.functions.Sq8Dequant]]'s 1-byte-per-dim serving vectors and
    * stage 2 exact-reranks the bounded shortlist — the query-time seam
    * that turns any existing IVF artifact into the 4×-cheaper-scan
    * serving mode with NO new artifact format or lifecycle (sq8
    * encoding is deterministic per vector, so there is nothing to
    * train, snapshot, or drift-monitor — the whole point of the rung). */
  def annServeSq8FromIndex(spark: SparkSession, dir: String,
                           queries: DataFrame, nProbe: Int = 4, k: Int = 5,
                           shortlistFactor: Int = 8): DataFrame = {
    val (cents, lists) = indexLists(spark, dir)
    val probes = probeFrame(queries, cents, nProbe, l2norm(col("embedding")))
    exactRerank(sq8Shortlist(lists, probes, shortlistFactor * k), lists,
      probes.select("query_id", "e_q", "n_q").distinct(), k)
  }

  /** §2 #237 — IVF-SQ8 serving FROM THE ARTIFACT: build the standard
    * IVF index once (static quantizer, the [[annIvfIndexed]] stance),
    * then serve the query set through [[annServeSq8FromIndex]] —
    * proving the artifact seam extends to the 4×-cheaper sq8 scan with
    * zero new lifecycle surface. Bit-identical to the inline pipeline
    * under the same quantizer, which the shared oracle
    * ([[ivfSq8StaticOracle]]) and SimilaritySpec both pin. */
  def annIvfSq8Indexed(spark: SparkSession, sfDir: String,
                       nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): DataFrame =
    serveFreshIndex(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(
      annServeSq8FromIndex(spark, _, _, nProbe, k))

  /** Oracle for [[annIvfSq8Indexed]]: the [[ivfSq8TrainedOracle]]
    * replay over the STATIC quantizer the artifact build pins. */
  def ivfSq8StaticOracle(nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                         shortlistFactor: Int = 8): String =
    ivfSq8OracleFor(staticCentroids(), nProbe, nQueries, k, shortlistFactor)

  /** §2 #238 — MMR DIVERSITY RE-RANK (Maximal Marginal Relevance,
    * Carbonell & Goldstein 1998): greedy top-k that trades relevance
    * against redundancy — pick argmax `λ·cos(q,c) − (1−λ)·max_{s∈S}
    * cos(c,s)` k times. The retrieval-side twin of near-dup removal:
    * a RAG context window or a diverse few-shot set wants the k BEST
    * DISTINCT neighbors, not k copies of the best one; λ=1 degenerates
    * to plain top-k (SimilaritySpec pins that identity exactly).
    *
    * Scale shape: the expensive stage is the same exact shortlist scan
    * every ANN variant uses (bounded TopK, swap in any index path
    * unchanged above the ranking); everything after is
    * shortlist-bounded — [[mmrRerank]] collects the ≤ nQueries·f·k
    * shortlist rows and their candidate vectors and runs the pair
    * similarities and the k greedy rounds on the DRIVER (model-state
    * work, not data work), so the selection never touches the corpus
    * again. Fully deterministic (ties → lower id), so the DuckDB
    * oracle replays the whole greedy unrolled — STATIC SQL, no trained
    * literals. */
  def annMmr(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             k: Int = 5, shortlistFactor: Int = 8,
             lambda: Double = 0.7): DataFrame = {
    val v = vectors(spark, sfDir)
    annMmrFrames(v, v.filter(col("vec_id") < nQueries), k,
      shortlistFactor, lambda)
  }

  /** Generic two-frame core: MMR-select from ANY (vec_id, embedding)
    * corpus for ANY (vec_id, embedding) query frame (norms recomputed
    * if absent; shared-id rows are excluded as self-matches, disjoint
    * id spaces are simply unaffected). The facade entry point. */
  def annMmrFrames(corpus: DataFrame, queryFrame: DataFrame, k: Int = 5,
                   shortlistFactor: Int = 8,
                   lambda: Double = 0.7): DataFrame = {
    def withNrm(df: DataFrame) =
      if (df.columns.contains("nrm")) df
      else df.withColumn("nrm", l2norm(col("embedding")))
    val cands = candVecs(withNrm(corpus))
    // stage 1 — exact cosine shortlist (the flat scan + bounded TopK)
    mmrRerank(rankTopKFull(candidates(cands, queryVecs(withNrm(queryFrame)),
      exactCos), shortlistFactor * k), cands, k, lambda)
  }

  /** MMR stages 2–3 over ANY (query_id, neighbor_id, cos) shortlist and
    * (neighbor_id, e_c, n_c) candidate-embedding source — shared by
    * every MMR serving form (flat, IVF, sq8, ADC), so the greedy
    * selection arithmetic cannot drift between them.
    *
    * The shortlist is BOUNDED by construction (≤ nQueries ×
    * shortlistFactor·k rows — its producer is always a bounded TopK
    * aggregate), so the pair similarities and the k greedy rounds are
    * model-state work, not data work: they run on the DRIVER over the
    * collected shortlist + its ≤ nQueries·f·k candidate vectors. The
    * previous DataFrame formulation spent ~30 scheduled jobs (~1100
    * shuffle tasks of KB frames) per call on the same arithmetic —
    * pure round-trip overhead at any scale, since the per-round state
    * never exceeds the shortlist. Corpus-scale work stays in stage 1,
    * exactly as before: the only distributed reads here are the
    * shortlist aggregate itself and one In-pruned candidate-vector
    * fetch. Arithmetic is bit-identical: the same left-fold
    * double-cast dot ([[graft.functions.DotProduct]]'s contract), the
    * same cos = dot/(n_a·n_b), msim = max(cab) over selected,
    * mmr = λ·cosq − (1−λ)·msim, tie-break (mmr desc, cand_id asc). */
  private def mmrRerank(shortRaw: DataFrame, cands: DataFrame, k: Int,
                        lambda: Double): DataFrame = {
    val spark = shortRaw.sparkSession
    val shortRows = shortRaw
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos").cast("double"))
      .collect()
    require(shortRows.length <= 2000000,
      s"MMR shortlist collected ${shortRows.length} rows — the bounded " +
        "TopK contract (nQueries x shortlistFactor x k) was violated " +
        "upstream; refusing a corpus-scale driver collect")
    val candIds = shortRows.map(_.getLong(1)).distinct
    // one pruned fetch of the shortlisted candidates' vectors; the
    // fold below casts per element, so float and double corpora agree
    // with the distributed dot's per-element double-cast contract.
    // SMALL id sets (the 400-row default shape) go through isin — a
    // literal In the scan can evaluate without a join. Past 10k ids a
    // literal In is itself a planning hazard (VERDICT-r19 #3: the 2M
    // guard above admits shortlists whose In expression would blow up
    // analysis before any row moves) — switch to a broadcast semi-join
    // against a local id frame: same rows, hash-lookup pruning.
    val candFetch =
      if (candIds.length <= 10000)
        cands.filter(col("neighbor_id").isin(candIds.map(Long.box).toSeq: _*))
      else {
        import spark.implicits._
        cands.join(broadcast(candIds.toSeq.toDF("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
      }
    val embRows = candFetch
      .select(col("neighbor_id").cast("long"), col("e_c"),
        col("n_c").cast("double"))
      .collect()
    val emb = new scala.collection.mutable.HashMap[Long, (Array[Double], Double)]
    embRows.foreach { r =>
      val a = r.getSeq[Any](1).iterator.map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case x => x.asInstanceOf[Number].doubleValue()
      }.toArray
      emb.put(r.getLong(0), (a, r.getDouble(2)))
    }
    def embOf(id: Long): (Array[Double], Double) = emb.getOrElse(id,
      throw new IllegalArgumentException(
        s"MMR shortlist references neighbor_id=$id with no embedding row in " +
          "the candidate source — shortlist and corpus frames disagree"))
    def cos(aId: Long, bId: Long): Double = {
      val (ea, na) = embOf(aId)
      val (eb, nb) = embOf(bId)
      // loud on ragged vectors, matching DotProduct.compute's contract
      // (the old distributed formulation threw here too)
      require(ea.length == eb.length,
        s"embedding length mismatch: $aId has ${ea.length} dims, " +
          s"$bId has ${eb.length}")
      var s = 0.0
      var i = 0
      val n = ea.length
      while (i < n) { s += ea(i) * eb(i); i += 1 }
      s / (na * nb)
    }
    // greedy per query over the bounded shortlist — identical rounds
    // to the old per-round window/join formulation
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Double, Double)]
    shortRows.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      var remaining = rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq
      var selected = List.empty[Long]
      var r = 1
      while (r <= k && remaining.nonEmpty) {
        val scoredRound = remaining.map { case (cid, cosq) =>
          val msim =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(b => cos(cid, b)).max
          (cid, cosq, lambda * cosq - (1.0 - lambda) * msim)
        }
        val (cid, cosq, mmr) = scoredRound.minBy(t => (-t._3, t._1))
        out += ((qid, cid, r, cosq, mmr))
        selected ::= cid
        remaining = remaining.filterNot(_._1 == cid)
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("query_id", "cand_id", "rnk", "cosq", "mmr")
      .select(col("query_id"), col("cand_id").as("neighbor_id"), col("rnk"),
        round(col("cosq"), 6).as("cos6"), round(col("mmr"), 6).as("mmr6"))
      .orderBy("query_id", "rnk")
  }

  /** MMR served FROM the IVF index artifact: stage 1's shortlist comes
    * from the probed inverted lists ([[annServeFromIndex]]'s
    * exact-cosine probe scan, kept to shortlistFactor·k instead of k),
    * stages 2–3 are [[mmrRerank]] unchanged — closing the one gap in
    * the serving matrix where MMR's production shape still paid a full
    * corpus scan per query batch. At nProbe = nCells every cell is
    * probed, the shortlist equals the brute one exactly, and the picks
    * are IDENTICAL to [[annMmrFrames]] (SimilaritySpec pins that, the
    * [[annIvfSq8Indexed]] stance); at production probes the stage-1
    * bill drops to ~nProbe/nCells of the corpus BY LAYOUT.
    *
    * Scale shape: broadcast probes against cell-partitioned inverted
    * lists (partition-pruned scan), bounded TopK shortlist, then the
    * greedy rounds on the driver over the collected shortlist
    * ([[mmrRerank]]) — the corpus is touched once, in its cheapest
    * indexed form. */
  def annMmrFromIndex(spark: SparkSession, dir: String, queryFrame: DataFrame,
                      nProbe: Int = 4, k: Int = 5, shortlistFactor: Int = 8,
                      lambda: Double = 0.7): DataFrame = {
    val (cents, lists) = indexLists(spark, dir)
    val probes = probeFrame(queryFrame, cents, nProbe, l2norm(col("embedding")))
    mmrRerank(rankTopKFull(candidates(lists, probes, exactCos),
      shortlistFactor * k), lists, k, lambda)
  }

  /** MMR with its stage-1 shortlist from the SQ8 SCAN (VERDICT-r18
    * #4 — compose the diversity re-rank with the cheap scan leg): the
    * probed cells are scored with [[graft.functions.Sq8Dequant]]'s
    * 1-byte/dim serving vectors, a WIDER sq8 pre-shortlist
    * (preFactor·f·k, the [[annServeSq8FromIndex]] two-stage stance) is
    * exact-rescored and cut to the standard f·k, and stages 2–3 are
    * [[mmrRerank]] unchanged — so the greedy selection runs over EXACT
    * cosines while the corpus-scale scan reads 4× less. At full probes
    * the final shortlist equals the brute one whenever the exact
    * top-f·k all sit inside the sq8 top-preFactor·f·k (the fixture
    * does — SimilaritySpec pins picks identical to [[annMmrFrames]]). */
  def annMmrSq8FromIndex(spark: SparkSession, dir: String,
                         queryFrame: DataFrame, nProbe: Int = 4,
                         k: Int = 5, shortlistFactor: Int = 8,
                         lambda: Double = 0.7,
                         preFactor: Int = 2): DataFrame = {
    val (cents, lists) = indexLists(spark, dir)
    val probes = probeFrame(queryFrame, cents, nProbe, l2norm(col("embedding")))
    val pre = sq8Shortlist(lists, probes, preFactor * shortlistFactor * k)
    mmrRerank(rankTopKFull(exactScored(pre, lists,
        probes.select("query_id", "e_q", "n_q").distinct()),
      shortlistFactor * k), lists, k, lambda)
  }

  /** §2 #250 — MMR OVER THE SQ8 SCAN, FROM THE ARTIFACT: the standard
    * IVF build (static quantizer) served through
    * [[annMmrSq8FromIndex]] — the diversity re-rank at the 4×-cheaper
    * candidate-scan price with zero new lifecycle surface (sq8
    * encoding is deterministic per vector; nothing new to train,
    * snapshot or monitor). */
  def annMmrSq8Indexed(spark: SparkSession, sfDir: String,
                       nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                       shortlistFactor: Int = 8, lambda: Double = 0.7,
                       preFactor: Int = 2): DataFrame =
    serveFreshIndex(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annMmrSq8FromIndex(spark, _, _,
      nProbe, k, shortlistFactor, lambda, preFactor))

  /** DuckDB replay for [[annMmrSq8Indexed]]: [[mmrOracleOver]]'s
    * greedy rounds fed by the sq8 two-stage shortlist — static-IVF
    * assignment/probe CTEs, the shared sq8 dequant body scoring the
    * pre-shortlist, exact rescore cut to f·k — every stage of the
    * served form exact. */
  def mmrSq8IndexedOracle(nProbe: Int = 4, nQueries: Int = 10,
                          k: Int = 5, shortlistFactor: Int = 8,
                          lambda: Double = 0.7,
                          preFactor: Int = 2): String = {
    val centRows = staticCentroids().zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        assigned AS (SELECT cell, vec_id AS cand_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        dq AS ($sq8DequantCteBody),
        acand AS (SELECT a.cell, a.cand_id, d.d,
                    sqrt(${dotSql("d.d", "d.d")}) AS n_d
                  FROM assigned a JOIN dq d ON d.vec_id = a.cand_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                     nrm AS n_q
                   FROM ranked WHERE crnk <= $nProbe
                     AND vec_id < $nQueries),
        pre AS (SELECT query_id, cand_id FROM (
            SELECT p.query_id, n.cand_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${dotSql("p.e_q", "n.d")} / (p.n_q * n.n_d)) DESC,
                n.cand_id) AS r
            FROM probes p JOIN acand n ON n.cell = p.cell
            WHERE n.cand_id <> p.query_id)
          WHERE r <= ${preFactor * shortlistFactor * k}),
        short AS (SELECT query_id, cand_id, cosq FROM (
            SELECT pr.query_id, pr.cand_id,
              ${dotSql("qv.embedding", "cv.embedding")}
                / (qv.nrm * cv.nrm) AS cosq,
              row_number() OVER (PARTITION BY pr.query_id ORDER BY
                ${dotSql("qv.embedding", "cv.embedding")}
                  / (qv.nrm * cv.nrm) DESC, pr.cand_id) AS r
            FROM pre pr
            JOIN nv qv ON qv.vec_id = pr.query_id
            JOIN nv cv ON cv.vec_id = pr.cand_id)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** DuckDB replay for [[annMmrPqIndexed]]: [[mmrOracleOver]]'s greedy
    * rounds fed by the ADC two-stage shortlist — both trained models
    * inlined (the [[ivfPqTrainedOracle]] stance), coarse assignment /
    * probing / PQ encoding / ADC pre-shortlist / exact rescore cut to
    * f·k, every stage of the served form exact. */
  def mmrPqIndexedOracle(nCells: Int = 16, nProbe: Int = 4,
                         nQueries: Int = 10, k: Int = 5,
                         shortlistFactor: Int = 8,
                         lambda: Double = 0.7,
                         preFactor: Int = 2): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val (cents, cbs) = ivfPqModels(v, nCells)
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val (cbRows, cbLit) = pqCbLits(cbs)
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_s[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES $centRows),
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM embeddings,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS MATERIALIZED (SELECT vec_id, $codePivot
                               FROM coded GROUP BY 1),
        acodes AS (SELECT a.cell, c.* FROM codes c
                   JOIN (SELECT vec_id, cell FROM ranked WHERE crnk = 1) a
                     ON a.vec_id = c.vec_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_s
               FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        pre AS MATERIALIZED (SELECT query_id, cand_id FROM (
            SELECT p.query_id, n.vec_id AS cand_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM probes p, acodes n, cbl
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${preFactor * shortlistFactor * k}),
        -- MATERIALIZED: the greedy skeleton references short/pairs once
        -- per unrolled round; inlining would re-evaluate the full PQ
        -- encode + ADC chain 2k+ times and exhaust the checker's memory
        short AS MATERIALIZED (SELECT query_id, cand_id, cosq FROM (
            SELECT pr.query_id, pr.cand_id,
              ${dotSql("qv.embedding", "cv.embedding")}
                / (qv.nrm * cv.nrm) AS cosq,
              row_number() OVER (PARTITION BY pr.query_id ORDER BY
                ${dotSql("qv.embedding", "cv.embedding")}
                  / (qv.nrm * cv.nrm) DESC, pr.cand_id) AS r
            FROM pre pr
            JOIN nv qv ON qv.vec_id = pr.query_id
            JOIN nv cv ON cv.vec_id = pr.cand_id)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** §2 #240 — MMR FROM THE ARTIFACT: build the standard IVF index once
    * (static quantizer, the [[annIvfIndexed]] stance), then MMR-select
    * the query set through [[annMmrFromIndex]] at production probes —
    * the diversity re-rank in its serving form. */
  def annMmrIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                    nQueries: Int = 10, k: Int = 5,
                    shortlistFactor: Int = 8,
                    lambda: Double = 0.7): DataFrame =
    serveFreshIndex(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annMmrFromIndex(spark, _, _,
      nProbe, k, shortlistFactor, lambda))

  /** DuckDB replay for [[annMmr]] — static SQL with the k greedy
    * rounds UNROLLED (sel1..selK + cumulative selected sets): the same
    * shortlist/pair arithmetic, the same `λ·cosq − (1−λ)·max` formula
    * with the same literal λ, the same (mmr DESC, id) tie-break. */
  def mmrOracle(nQueries: Int = 10, k: Int = 5, shortlistFactor: Int = 8,
                lambda: Double = 0.7): String = {
    mmrOracleOver(
      s"""short AS (SELECT query_id, cand_id, cosq FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosq,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                c.vec_id) AS r
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** DuckDB replay for [[annMmrIndexed]]: [[mmrOracle]]'s greedy rounds
    * over the IVF-PROBED shortlist — the [[ivfStaticOracle]] assignment
    * CTEs (static centroid VALUES, argmax assignment, nProbe probes)
    * feeding the same top-(f·k) ranking, so every stage of the served
    * form is replayed exactly. */
  def mmrIndexedOracle(nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                       shortlistFactor: Int = 8,
                       lambda: Double = 0.7): String = {
    val centRows = staticCentroids().zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        assigned AS (SELECT cell, vec_id AS cand_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                     nrm AS n_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        short AS (SELECT query_id, cand_id, cosq FROM (
            SELECT p.query_id, a.cand_id,
              ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) AS cosq,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) DESC,
                a.cand_id) AS r
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE p.query_id <> a.cand_id)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** The shared MMR-oracle skeleton: `nv` (normed vectors) + the
    * caller's shortlist CTE chain (must define `short(query_id,
    * cand_id, cosq)`) + the pair stage + the k UNROLLED greedy rounds —
    * one definition, so the brute and artifact-served replays cannot
    * drift in the selection arithmetic. */
  private def mmrOracleOver(shortCtes: String, k: Int,
                            lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    // k = 1 has no later rounds: emit NO trailing CTE (a dangling
    // comma after sel1 is a parser error, not a wrong answer)
    val rounds = (2 to k).map { r =>
      s"""cum${r - 1} AS (${(1 until r)
          .map(i => s"SELECT query_id, cand_id FROM sel$i")
          .mkString(" UNION ALL ")}),
        sel$r AS (SELECT query_id, cand_id, cosq, mmr FROM (
            SELECT s.query_id, s.cand_id, s.cosq,
              ($lam * s.cosq - $oneMinus * m.msim) AS mmr,
              row_number() OVER (PARTITION BY s.query_id ORDER BY
                ($lam * s.cosq - $oneMinus * m.msim) DESC, s.cand_id) AS r
            FROM short s
            JOIN (SELECT p.query_id, p.a_id, max(p.cab) AS msim
                  FROM pairs p
                  JOIN cum${r - 1} c ON c.query_id = p.query_id
                                    AND c.cand_id = p.b_id
                  GROUP BY 1, 2) m
              ON m.query_id = s.query_id AND m.a_id = s.cand_id
            WHERE NOT EXISTS (SELECT 1 FROM cum${r - 1} x
                              WHERE x.query_id = s.query_id
                                AND x.cand_id = s.cand_id))
          WHERE r = 1)"""
    }.mkString(",\n        ")
    val unionAll = (1 to k)
      .map(r => s"SELECT query_id, cand_id, $r AS rnk, cosq, mmr FROM sel$r")
      .mkString(" UNION ALL ")
    s"""WITH nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        $shortCtes,
        pairs AS (SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
            ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cab
          FROM short a
          JOIN short b ON b.query_id = a.query_id
                      AND b.cand_id <> a.cand_id
          JOIN nv ea ON ea.vec_id = a.cand_id
          JOIN nv eb ON eb.vec_id = b.cand_id),
        sel1 AS (SELECT query_id, cand_id, cosq,
            ($lam * cosq - $oneMinus * 0.0) AS mmr FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY
              ($lam * cosq - $oneMinus * 0.0) DESC, cand_id) AS r
            FROM short)
          WHERE r = 1)${if (rounds.isEmpty) "" else ",\n        " + rounds}
        SELECT query_id, cand_id AS neighbor_id, CAST(rnk AS INTEGER)
            AS rnk,
          round(cosq, 6) AS cos6, round(mmr, 6) AS mmr6
        FROM ($unionAll)
        ORDER BY query_id, rnk"""
  }

  /** §2 #96b — INCREMENTAL semantic-dedup decisions: a delta batch of
    * (vec_id, embedding) vectors decided against an accumulated base of
    * KEPT vectors — the embedding twin of the media families' delta
    * path ([[Blob.mediaPhashIncrementalFrom]]'s order-free pairwise
    * rule): a delta vector is 'near' if some same-cell vector with
    * cosine ≥ tau is in the base or has a smaller delta id, 'kept'
    * otherwise. The driver form slices the corpus (base = vec_id
    * multiples of 5, delta = the rest) with the full-corpus trained
    * quantizer, so the oracle replays the identical rule over inlined
    * centroids.
    *
    * Scale shape: delta assignment map-only (broadcast centroids); the
    * probe side of the one cell equi-join is the DELTA only, so a daily
    * increment pays cost ∝ increment — base×base never pairs (the
    * dedup_incremental doctrine in embedding space). */
  def semanticDedupIncremental(spark: SparkSession, sfDir: String,
                               nCells: Int = 16,
                               tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    val base = assignWithCentroids(
      v.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
      cents)
    semanticDedupIncrementalFrom(base,
      v.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding"),
      cents, tau)
  }

  /** The shared core over ANY assigned base (cell, vec_id, embedding,
    * nrm — [[readIvfAssigned]]'s shape, so a maintained IVF index IS a
    * valid base) and raw delta — also the micro-batch body of
    * [[graft.streaming.StreamSemanticDedup]]. */
  private[graft] def semanticDedupIncrementalFrom(baseAssigned: DataFrame,
                                                  delta: DataFrame,
                                                  cents: Array[Array[Double]],
                                                  tau: Double): DataFrame = {
    val d = assignWithCentroids(delta.select("vec_id", "embedding"), cents)
    val build = baseAssigned
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
      .withColumn("b_is_base", lit(true))
      .unionByName(d.withColumn("b_is_base", lit(false)))
    val probe = d.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val blockers = probe
      .join(build.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("e_b"), col("nrm").as("n_b"),
        col("b_is_base")), Seq("cell"))
      .filter(col("b_is_base") || col("id_b") < col("id_a"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(cosineWithNorms(dot(col("e_a"), col("e_b")),
        col("n_a"), col("n_b")) >= tau)
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("blocked", lit(true))
    d.join(blockers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(coalesce(col("blocked"), lit(false)), lit("near"))
          .otherwise(lit("kept")).as("decision"))
      .orderBy("vec_id")
  }

  /** Oracle for [[semanticDedupIncremental]]: trained centroids
    * inlined, ranked assignment, then the same order-free pairwise
    * rule — EXISTS a same-cell cosine ≥ tau neighbor that is base or a
    * smaller delta id. */
  def semanticDedupIncrementalOracle(nCells: Int = 16,
                                     tau: Double = 0.4): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val cents = withTrainCache(vectors(spark, sfDir))(
      trainCentroids(_, nCells))
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        assigned AS (SELECT vec_id, embedding, nrm, cell,
                            vec_id % 5 = 0 AS is_base FROM (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c) WHERE crnk = 1),
        dup AS (SELECT a.vec_id
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND NOT a.is_base
                  AND (b.is_base OR b.vec_id < a.vec_id)
                  AND a.vec_id <> b.vec_id
                WHERE ${dotSql("a.embedding", "b.embedding")}
                        / (a.nrm * b.nrm) >= $tau
                GROUP BY 1)
        SELECT a.vec_id, a.cell,
               CASE WHEN dup.vec_id IS NOT NULL THEN 'near'
                    ELSE 'kept' END AS decision
        FROM assigned a LEFT JOIN dup USING (vec_id)
        WHERE NOT a.is_base
        ORDER BY a.vec_id"""
  }

  /** §2 #100 — HARD-NEGATIVE mining for contrastive training: for each
    * anchor, the top-k most-similar vectors with a DIFFERENT label —
    * the near-misses that teach an embedding model its decision
    * boundary (the complement of near-dup removal: there we drop
    * same-meaning neighbors, here we keep different-meaning ones).
    * Same scale shape as the brute-force baseline: anchors broadcast,
    * candidates scanned once, bounded TopKByScore ranking; at corpus
    * scale the scan side is replaced by any of the ANN index paths
    * (#27/#39/#89/#90) unchanged above the scoring join. */
  def hardNegatives(spark: SparkSession, sfDir: String,
                    nAnchors: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val anchors = v.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("query_id"), col("label").as("lab_q"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cands = v.select(col("vec_id").as("neighbor_id"),
      col("label").as("lab_c"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))
    rankTopK(
      cands.join(broadcast(anchors), col("lab_q") =!= col("lab_c"))
        .select(col("query_id"), col("neighbor_id"),
          exactCos.as("cos")),
      k)
  }

  /** §2 #96 — SEMANTIC dedup (SemDeDup, Abbas et al. 2023): cluster
    * the corpus with the k-means coarse quantizer, then drop any vector
    * that has a lower-id near-duplicate (cosine ≥ tau) in ITS OWN
    * cluster — the embedding-space analogue of exact dedup's
    * keep-the-canonical rule, and the standard way to de-duplicate at
    * the scale where all-pairs cosine is impossible. The decision rule
    * (exists a lower-id in-cell dup) is pairwise and order-free, so the
    * oracle replays it exactly.
    *
    * Scale shape: cell assignment map-only over the broadcast centroid
    * matrix; the only join is within-cell pairs (blocks bounded by the
    * quantizer, ~N/nCells each — at 100 TB nCells grows with the corpus
    * so blocks stay bounded); output decisions via one left join. */
  def semanticDedup(spark: SparkSession, sfDir: String, nCells: Int = 16,
                    tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    semanticDedupWith(v, withTrainCache(v)(trainCentroids(_, nCells)), tau)
  }

  private def semanticDedupWith(v: DataFrame, cents: Array[Array[Double]],
                                tau: Double): DataFrame = {
    val assigned = v.select(
      cellOf(cents),
      col("vec_id"), col("embedding"), col("nrm"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineWithNorms(dot(col("e_a"), col("e_b")),
        col("n_a"), col("n_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("dropped"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** §2 #229 — SEMANTIC DECONTAMINATION: the embedding-space leg of
    * the decontamination family (exact `decontaminate` → Bloom
    * `bloom_decontaminate` → n-gram `decontaminate_fuzzy` → THIS) —
    * flag every corpus document whose embedding is cosine-≥-tau close
    * to ANY held-out benchmark/eval vector, the paraphrase-robust
    * contamination check text n-grams miss (an eval item rewritten in
    * different words shares no 8-gram but keeps its embedding
    * neighborhood). Eval split = `vec_id % 10 == 0` (the held-out
    * tenth), corpus = the rest.
    *
    * Geometry is [[ivfServe]]'s, sides chosen by size: the SMALL eval
    * set probes its `nProbe` nearest cells and broadcasts; the corpus
    * streams through ONE cell equi-join on its single-cell assignment
    * — at 100 TB the corpus never shuffles more than (cell, id) and
    * its vectors are touched map-only, while missing a match requires
    * the pair to straddle all nProbe probed cells (the documented
    * ann_ivf recall trade, tuned by `ivf_probe_sweep`). A corpus doc
    * lives in one cell and a query's probed cells are distinct, so
    * (corpus, eval) pairs are unique by construction — no distinct.
    * Per corpus doc: the contamination verdict, the match count, the
    * worst (highest-cosine, ties → lower id) eval item via the bounded
    * [[graft.functions.TopKByScore]] aggregate, and its cosine —
    * the evidence row a release audit wants. */
  def decontaminateSemantic(spark: SparkSession, sfDir: String,
                            nCells: Int = 16, nProbe: Int = 4,
                            tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    decontaminateSemanticFrom(
      v.filter(col("vec_id") % 10 =!= 0).select("vec_id", "embedding"),
      evalProbesOf(v.filter(col("vec_id") % 10 === 0), cents, nProbe),
      cents, tau)
  }

  /** The eval split's probe rows — (eval_id, cell ×nProbe, vector,
    * norm), the broadcast side of the semantic-contamination join.
    * Computed once per gate (the [[decontaminationGateToDir]] artifact
    * stores them), map-only over the small eval set. */
  private[graft] def evalProbesOf(eval: DataFrame,
                                  cents: Array[Array[Double]],
                                  nProbe: Int): DataFrame =
    eval.select(col("vec_id").as("eval_id"),
      // probing more cells than exist is just "probe everything" —
      // clamp instead of pushing the kernel's bounds check onto
      // callers with small quantizers
      explode(graft.functions.VectorQuantize.nearestCells(
        col("embedding"), cents, math.min(nProbe, cents.length))).as("cell"),
      col("embedding").as("e_q"),
      l2norm(col("embedding")).as("n_q"))

  /** TWO-FRAME semantic-contamination core: gate `corpus` rows
    * (vec_id, embedding) against pre-computed eval probes — the seam
    * [[graft.streaming.StreamDecontaminate]] reuses per micro-batch
    * (verdicts are per-doc independent, so streamed prefixes equal the
    * batch run row-for-row). */
  private[graft] def decontaminateSemanticFrom(corpus: DataFrame,
                                               evalProbes: DataFrame,
                                               cents: Array[Array[Double]],
                                               tau: Double): DataFrame = {
    val assigned = corpus.select(
      cellOf(cents),
      col("vec_id"), col("embedding").as("e_c"),
      l2norm(col("embedding")).as("n_c"))
    val hits = assigned
      .join(broadcast(evalProbes), Seq("cell"))
      .select(col("vec_id"), col("eval_id"),
        cosineWithNorms(dot(col("e_c"), col("e_q")), col("n_c"),
          col("n_q")).as("cos"))
      .filter(col("cos") >= tau)
    val verdicts = hits.groupBy("vec_id")
      .agg(count(lit(1)).as("n_matches"),
        graft.functions.TopKByScoreAgg.topkByScore(
          col("eval_id"), col("cos"), 1).as("top"))
      .select(col("vec_id"), col("n_matches"),
        col("top")(0).getField("neighbor_id").as("eval_id"),
        round(col("top")(0).getField("cos"), 6).as("max_cos6"))
    corpus.select(col("vec_id"))
      .join(verdicts, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("n_matches").isNotNull.as("contaminated"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("eval_id"), col("max_cos6"))
      .orderBy("vec_id")
  }

  /** Materialize a SEMANTIC-CONTAMINATION GATE artifact: the trained
    * quantizer plus the eval split's pre-computed probe rows —
    * {{{
    *   dir/centroids/    the fixed quantizer (readIvfCentroids layout)
    *   dir/eval_probes/  (eval_id, cell, e_q, n_q) — nProbe rows each
    * }}}
    * — so a continuous ingest gate ([[graft.streaming
    * .StreamDecontaminate]]) pays the eval-side work ONCE and each
    * micro-batch costs one map-only assignment + one broadcast cell
    * equi-join. The quantizer is fixed at gate build (eval probes are
    * only meaningful under the centroids that produced them). */
  def decontaminationGateToDir(spark: SparkSession, sfDir: String,
                               dir: String, nCells: Int = 16,
                               nProbe: Int = 4): Unit = {
    val v = vectors(spark, sfDir)
    decontaminationGateFrom(spark, v, v.filter(col("vec_id") % 10 === 0),
      dir, nCells, nProbe)
  }

  /** [[decontaminationGateToDir]] over EXPLICIT frames: train the
    * quantizer on `train` (any representative corpus sample — the
    * probes are only meaningful under these centroids) and pin `eval`'s
    * probe rows. Both frames need (vec_id, embedding).
    *
    * Crash consistency: the probes are only meaningful under the
    * centroids written beside them, and the two land in separate
    * writes — so a `_gate_complete` marker is cleared FIRST and
    * re-written LAST, and every gate reader requires it. A crash
    * between the writes (new centroids, stale probes — silently wrong
    * verdicts) leaves no marker and the reader refuses; re-run the
    * build. */
  def decontaminationGateFrom(spark: SparkSession, train: DataFrame,
                              eval: DataFrame, dir: String,
                              nCells: Int = 16, nProbe: Int = 4): Unit = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, marker) = StreamIO.fsFor(s"$dir/_gate_complete", conf)
    if (fs.exists(marker)) fs.delete(marker, false)
    val cents = withTrainCache(train.select("vec_id", "embedding"))(
      trainCentroids(_, nCells))
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    evalProbesOf(eval.select("vec_id", "embedding"), cents, nProbe)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/eval_probes")
    StreamIO.writeMarker(dir, "_gate_complete", 1L, conf)
  }

  /** The gate reader's guard: refuse a gate whose completion marker is
    * absent — the build crashed between the centroid and probe writes
    * and the two may disagree (probes under retired centroids serve
    * silently wrong verdicts, the failure mode markers exist for). */
  private[graft] def requireGateComplete(spark: SparkSession,
                                         dir: String): Unit = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    require(StreamIO.readMarker(dir, "_gate_complete", conf).contains(1L),
      s"contamination gate at $dir carries no _gate_complete marker — " +
        "the build did not finish (the marker lands after both the " +
        "centroids and the probe rows), so the probes may not match " +
        "the centroids. Re-run decontaminationGateFrom.")
  }

  /** [[decontaminateSemantic]] over EXPLICIT frames (both need
    * vec_id, embedding): quantizer trained on corpus ∪ eval (the
    * driver query's stance), then the same probe-broadcast cell
    * equi-join. The batch entry point a library user calls with their
    * own corpus and benchmark tables. */
  def decontaminateSemanticFrames(corpus: DataFrame, eval: DataFrame,
                                  nCells: Int = 16, nProbe: Int = 4,
                                  tau: Double = 0.4): DataFrame = {
    val c = corpus.select("vec_id", "embedding")
    val e = eval.select("vec_id", "embedding")
    // the two frames' vec_id spaces may collide (independently
    // produced tables): dedup the TRAINING union by id so
    // trainCentroids' orderBy(vec_id).limit(nCells) init cannot seed
    // duplicate rows and under-provision the quantizer. The survivor
    // is DETERMINISTIC — corpus row wins a collision (min precedence
    // tag), never dropDuplicates' partition-order pick — so trained
    // centroids and therefore contamination verdicts are reproducible
    // run-to-run. Verdicts are otherwise unaffected (both splits are
    // assigned under the same centroids).
    val train = c.withColumn("prio", lit(0))
      .unionByName(e.withColumn("prio", lit(1)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy("prio")))
      .filter(col("rn") === 1)
      .select("vec_id", "embedding")
    val cents = withTrainCache(train)(trainCentroids(_, nCells))
    decontaminateSemanticFrom(c, evalProbesOf(e, cents, nProbe), cents, tau)
  }

  /** Oracle for [[decontaminateSemantic]]: trained centroids inlined;
    * both splits' ranked assignment, the probe join, the tau gate, and
    * the (cos DESC, id ASC) top-match replayed exactly. */
  def decontaminateSemanticOracle(nCells: Int = 16, nProbe: Int = 4,
                                  tau: Double = 0.4): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val cents = trainCentroids(vectors(spark, sfDir), nCells)
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c),
        corpus AS (SELECT vec_id, embedding, nrm, cell FROM ranked
                   WHERE crnk = 1 AND vec_id % 10 <> 0),
        probes AS (SELECT vec_id AS eval_id, embedding, nrm, cell
                   FROM ranked WHERE crnk <= $nProbe AND vec_id % 10 = 0),
        hits AS (SELECT c.vec_id, p.eval_id,
                   ${dotSql("c.embedding", "p.embedding")} / (c.nrm * p.nrm)
                     AS cos
                 FROM corpus c JOIN probes p ON p.cell = c.cell
                 WHERE ${dotSql("c.embedding", "p.embedding")}
                         / (c.nrm * p.nrm) >= $tau),
        verdicts AS (SELECT vec_id,
                       CAST(count(*) AS BIGINT) AS n_matches,
                       first(eval_id ORDER BY cos DESC, eval_id) AS eval_id,
                       round(max(cos), 6) AS max_cos6
                     FROM hits GROUP BY 1)
        SELECT c.vec_id, v.n_matches IS NOT NULL AS contaminated,
               coalesce(v.n_matches, 0) AS n_matches,
               v.eval_id, v.max_cos6
        FROM corpus c LEFT JOIN verdicts v ON v.vec_id = c.vec_id
        ORDER BY c.vec_id"""
  }

  /** Oracle for [[semanticDedup]]: trained centroids inlined, ranked
    * assignment + within-cell pairwise replay. */
  def semanticDedupOracle(nCells: Int = 16, tau: Double = 0.4): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val cents = trainCentroids(vectors(spark, sfDir), nCells)
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        assigned AS (SELECT vec_id, embedding, nrm, cell FROM (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c) WHERE crnk = 1),
        dup AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE ${dotSql("a.embedding", "b.embedding")}
                        / (a.nrm * b.nrm) >= $tau
                GROUP BY 1)
        SELECT s.vec_id, s.cell, dup.dup_of IS NOT NULL AS dropped,
               dup.dup_of
        FROM assigned s LEFT JOIN dup ON dup.vec_id = s.vec_id
        ORDER BY s.vec_id"""
  }

  /** §2 #233 — DECONTAMINATION-GATE RECALL PRICING: how much of the
    * brute-force contamination verdict does the cell-probed
    * [[decontaminateSemantic]] gate recover, per (nProbe, tau)
    * operating point — the [[annRecallEval]] doctrine applied to the
    * curation family. The gate's spec proves soundness and a recall
    * floor at its defaults; THIS is the table that prices the knobs,
    * because a contamination gate that silently misses tau-close pairs
    * in unprobed cells is the same silent-degradation class `pq_drift`
    * closed for serving.
    *
    * Truth leg: the smallest `nEval` held-out items against the whole
    * corpus — a bounded-broadcast all-pairs check (nEval rows build
    * side, the documented recall-truth shape), NEVER corpus × eval.
    * Gate leg: the same eval items' ranked probe cells joined to the
    * corpus's single-cell assignment — a pair is reachable at nProbe ≥
    * the rank of the corpus doc's cell in the eval item's probe order,
    * so ONE ranked pair frame prices every probe count as a filter.
    * Per (n_probe, tau): brute-flagged docs, gate-flagged docs
    * (a subset, by the gate's soundness), and their ratio = recall. */
  def deconRecallEval(spark: SparkSession, sfDir: String,
                      nCells: Int = 16,
                      probeCounts: Seq[Int] = Seq(1, 2, 4),
                      taus: Seq[Double] = Seq(0.3, 0.4),
                      nEval: Int = 50): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    val maxProbe = math.min(probeCounts.max, cents.length)
    val corpus = v.filter(col("vec_id") % 10 =!= 0)
      .select(
        cellOf(cents),
        col("vec_id"), col("embedding"), col("nrm"))
    // eval sample: the smallest nEval held-out items (ids are dense
    // from 0, so vec_id < nEval*10 picks exactly nEval at any SF)
    val evalS = v.filter(col("vec_id") % 10 === 0 &&
        col("vec_id") < nEval * 10)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val probes = evalS.select(col("eval_id"), col("e_q"), col("n_q"),
        posexplode(graft.functions.VectorQuantize.nearestCells(
          col("e_q"), cents, maxProbe)).as(Seq("pos", "cell")))
      .select(col("cell"), col("eval_id"), col("e_q"), col("n_q"),
        (col("pos") + 1).as("probe_rank"))
    val pairCos = cosineWithNorms(dot(col("embedding"), col("e_q")),
      col("nrm"), col("n_q"))
    val minTau = taus.min
    // gate-reachable pairs, cheapest tau pre-filter applied once; a
    // corpus doc lives in ONE cell and an item's probed cells are
    // distinct, so pairs are unique by construction
    val pairs = corpus.join(broadcast(probes), Seq("cell"))
      .select(col("vec_id"), col("probe_rank"), pairCos.as("cos"))
      .filter(col("cos") >= minTau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(pairs)
    val brutePairs = corpus.join(broadcast(evalS), pairCos >= minTau)
      .select(col("vec_id"), pairCos.as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(brutePairs)
    def rowFor(np: Int, tau: Double): DataFrame =
      brutePairs.filter(col("cos") >= tau)
        .agg(countDistinct(col("vec_id")).as("n_brute"))
        .crossJoin(broadcast(
          pairs.filter(col("probe_rank") <= np && col("cos") >= tau)
            .agg(countDistinct(col("vec_id")).as("n_flagged"))))
        .select(lit(np).as("n_probe"), lit(tau).as("tau"),
          col("n_brute"), col("n_flagged"),
          round(col("n_flagged") / col("n_brute"), 4).as("recall4"))
    probeCounts.flatMap(np => taus.map(tau => rowFor(np, tau)))
      .reduce(_.unionByName(_))
      .orderBy("n_probe", "tau")
  }

  /** DuckDB oracle for [[deconRecallEval]]: trained centroids inlined;
    * ranked probe assignment, the reachable-pair frame, the bounded
    * brute truth, and every (n_probe, tau) counting row replayed. */
  def deconRecallEvalOracle(nCells: Int = 16,
                            probeCounts: Seq[Int] = Seq(1, 2, 4),
                            taus: Seq[Double] = Seq(0.3, 0.4),
                            nEval: Int = 50): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val cents = trainCentroids(vectors(spark, sfDir), nCells)
    val maxProbe = math.min(probeCounts.max, cents.length)
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val gridRows = probeCounts.flatMap(np =>
      taus.map(tau => s"($np, $tau)")).mkString(", ")
    val minTau = taus.min
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        corpus AS (SELECT vec_id, embedding, nrm, cell FROM ranked
                   WHERE crnk = 1 AND vec_id % 10 <> 0),
        evals AS (SELECT vec_id AS eval_id, embedding, nrm
                  FROM nv WHERE vec_id % 10 = 0
                    AND vec_id < ${nEval * 10}),
        probes AS (SELECT vec_id AS eval_id, embedding, nrm, cell,
                     crnk AS probe_rank
                   FROM ranked WHERE crnk <= $maxProbe
                     AND vec_id % 10 = 0 AND vec_id < ${nEval * 10}),
        pairs AS (SELECT c.vec_id, p.probe_rank,
                    ${dotSql("c.embedding", "p.embedding")} / (c.nrm * p.nrm)
                      AS cos
                  FROM corpus c JOIN probes p ON p.cell = c.cell
                  WHERE ${dotSql("c.embedding", "p.embedding")}
                          / (c.nrm * p.nrm) >= $minTau),
        brute AS (SELECT c.vec_id,
                    ${dotSql("c.embedding", "e.embedding")} / (c.nrm * e.nrm)
                      AS cos
                  FROM corpus c, evals e
                  WHERE ${dotSql("c.embedding", "e.embedding")}
                          / (c.nrm * e.nrm) >= $minTau),
        grid(n_probe, tau) AS (VALUES $gridRows)
       SELECT g.n_probe, CAST(g.tau AS DOUBLE) AS tau,
         (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) FROM brute
          WHERE cos >= g.tau) AS n_brute,
         (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) FROM pairs
          WHERE probe_rank <= g.n_probe AND cos >= g.tau) AS n_flagged,
         round((SELECT count(DISTINCT vec_id) FROM pairs
                WHERE probe_rank <= g.n_probe AND cos >= g.tau)
           / CAST((SELECT count(DISTINCT vec_id) FROM brute
                   WHERE cos >= g.tau) AS DOUBLE), 4) AS recall4
       FROM grid g
       ORDER BY g.n_probe, g.tau"""
  }

  /** Random hyperplanes for LSH signatures: nBits × dim, fixed seed. */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** DuckDB oracle for [[annLsh]]. The hyperplanes are FIXED (seeded),
    * so the whole pipeline — sign bits, banding, candidate pairs,
    * cosine, ranking — is static SQL: the planes are inlined as list
    * literals (Double.toString round-trips exactly, and the left-fold
    * dot contract matches `VectorFunctions.dot` bit-for-bit, as already
    * proven by the embedding_dedup oracle). This flips ann_lsh from a
    * weak rows-only check to a full value-hash oracle match. */
  def lshOracle(nQueries: Int = 10, k: Int = 5): String = {
    val planes = hyperplanes(16, 64)
    val bitExprs = planes.map { p =>
      val lit = p.mkString("[", ", ", "]")
      s"CASE WHEN ${dotSql("embedding", lit)} > 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        bits AS (SELECT vec_id, embedding, nrm, $bitExprs AS bits FROM n),
        banded AS (
          SELECT vec_id, b.b || ':' || substring(bits, b.b * 2 + 1, 2)
                   AS band_key
          FROM bits, (SELECT unnest(range(0, 8)) AS b) b),
        pair_ids AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM banded q JOIN banded c ON q.band_key = c.band_key
          WHERE q.vec_id < $nQueries AND q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT p.query_id, p.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              p.neighbor_id) AS INTEGER) AS rnk
          FROM pair_ids p
          JOIN bits qv ON qv.vec_id = p.query_id
          JOIN bits cv ON cv.vec_id = p.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** DuckDB oracle for [[annIvfStatic]]: centroid rows inlined as VALUES
    * list literals; assignment/probing replayed with a ranked 16-way
    * expansion (the ORACLE may brute-force what the engine does
    * map-only — that asymmetry is the point). */
  def ivfStaticOracle(nProbe: Int = 4, nQueries: Int = 10,
                      k: Int = 5): String =
    ivfOracleFor(staticCentroids(), nProbe, nQueries, k)

  /** Oracle for the TRAINED IVF query: inlines the centroid matrix the
    * engine deterministically trains on the verify SF (set by Verify via
    * -Dgraft.oracle.sfdir), so everything downstream of training —
    * assignment, probing, ranking — is oracle-checked exactly. Training
    * itself is covered by the determinism/unit-norm property spec; the
    * oracle takes the quantizer as given, as any oracle must for a
    * data-dependent model. */
  def ivfTrainedOracle(nCells: Int = 16, nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    ivfOracleFor(trainCentroids(vectors(spark, sfDir), nCells),
      nProbe, nQueries, k)
  }

  private def ivfOracleFor(cents: Array[Array[Double]], nProbe: Int,
                           nQueries: Int, k: Int): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c),
        assigned AS (SELECT cell, vec_id AS neighbor_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                     nrm AS n_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT p.query_id, a.neighbor_id,
            ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) AS cos,
            CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
              ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) DESC,
              a.neighbor_id) AS INTEGER) AS rnk
          FROM probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.query_id <> a.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** `−‖c‖²/2` per codeword: the bias that turns a dot-product argmax
    * into an L2 argmin over UNNORMALIZED codebooks. */
  private def l2Biases(cb: Array[Array[Double]]): Array[Double] =
    cb.map(c => -0.5 * c.map(x => x * x).sum)

  /** (VALUES rows, nested array literal) for a codebook set — the two
    * inline forms every PQ-family oracle embeds; built HERE once so a
    * multi-codebook oracle (the recall table prices raw + residual +
    * OPQ off one statement) cannot drift between its copies. */
  private def pqCbLits(cbs: Array[Array[Array[Double]]])
      : (String, String) = {
    val rows = (for {
      m <- cbs.indices
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})").mkString(", ")
    val lit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    (rows, lit)
  }

  /** The DuckDB dot-product fragment every oracle builder shares: a
    * left fold of per-element double products, the engine dot's order
    * and casts, so replayed scores are bit-identical. */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"""

  /** The sq8 dequantized-corpus CTE body — embedding_quantize's exact
    * per-element max-abs formula, defined ONCE and shared by every
    * oracle that replays int8 serving ([[sq8Oracle]], the recall
    * table, [[ivfSq8OracleFor]]), so the clamp/round arithmetic cannot
    * drift between the variants it prices. */
  // private[graft]: Curation's fused-retrieval oracle replays the sq8
  // vector leg with the SAME clamp/round body (the shared-body stance)
  private[graft] def sq8DequantCteBody: String =
    sq8DequantCteBodyOver("embeddings")

  /** [[sq8DequantCteBody]] over an arbitrary (vec_id, embedding)
    * source CTE/table — the whitened-space replay reuses the exact
    * clamp/round arithmetic over its transformed corpus. */
  private def sq8DequantCteBodyOver(src: String): String =
    s"""SELECT vec_id,
                 list_transform(embedding,
                   v -> least(greatest(
                          round(CAST(v AS DOUBLE) * scale), -127.0),
                          127.0) / scale) AS d
               FROM (SELECT vec_id, embedding,
                       CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                            ELSE 1.0 END AS scale
                     FROM (SELECT vec_id, embedding,
                             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                               list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))),
                               (a, b) -> greatest(a, b)) AS maxabs
                           FROM $src))"""

  /** PQ codebooks: one k-means quantizer PER SUB-SPACE. Unlike the IVF
    * coarse quantizer these are PLAIN L2 k-means — codewords keep their
    * magnitudes (a unit 64-dim vector's 8-dim sub-vectors have norm
    * ≈ 1/√8, and normalizing them away wrecks the ADC reconstruction:
    * measured recall@5 was ~0.2 spherical vs 0.7 L2 + re-rank at
    * sf0.01). Same determinism
    * contract as [[trainCentroids]]: init by first vectors, means
    * quantized to 1e-6 per iteration, so the oracle can inline the
    * trained model. */
  private[graft] def trainPqCodebooks(v: DataFrame, m: Int = 8, k: Int = 16,
                                      sub: Int = 8,
                                      iters: Int = 3): Array[Array[Array[Double]]] =
      memoModel(v, s"pq|$m|$k|$sub|$iters") {
    import v.sparkSession.implicits._
    // init: first k vectors BY ID (one bounded collect), sliced per
    // sub-space driver-side — the [[trainCentroids]] sparse-id stance:
    // identical on dense-from-0 fixtures, correct on hole/offset id
    // spaces where `vec_id < k` would under-provision the codebooks.
    // The cast makes the trainer accept BOTH raw `array<float>`
    // embeddings and `array<double>` residual frames (float→double is
    // exact, so the float path is unchanged value-for-value).
    val init = v.orderBy("vec_id").limit(k)
      .select(col("embedding").cast("array<double>"))
      .as[Array[Double]].collect()
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => init.map(_.slice(mi * sub, (mi + 1) * sub)))
    // ALL sub-spaces per iteration in ONE job: stack each row into its m
    // (sub-space, sub-vector) rows, branch the argmin on the sub-space
    // id, aggregate every (m, cell, pos) mean at once — iters+1 jobs
    // total instead of m×(iters+1), and one corpus pass per iteration,
    // which is the distributed-training shape that matters at scale.
    val stackArgs = (0 until m)
      .map(mi => s"$mi, slice(embedding, ${mi * sub + 1}, $sub)")
      .mkString(", ")
    for (_ <- 1 to iters) {
      val cellCol = (0 until m).foldLeft(lit(null).cast("int")) { (acc, mi) =>
        when(col("m") === mi,
          element_at(graft.functions.VectorQuantize.nearestCellsBiased(
            col("s"), cbs(mi), l2Biases(cbs(mi)), 1), 1)).otherwise(acc)
      }
      val means = v
        .select(expr(s"stack($m, $stackArgs) AS (m, s)"))
        .select(col("m"), cellCol.as("cell"),
          posexplode(col("s")).as(Seq("pos", "x")))
        .groupBy("m", "cell", "pos")
        .agg(avg(col("x")).as("mn"))
        .collect()
      val next = Array.tabulate(m)(mi => cbs(mi).map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          math.rint(r.getDouble(3) * 1e6) / 1e6
      }
      cbs = next
    }
    cbs
  }

  /** §2 #89 — PRODUCT-QUANTIZATION ANN (Jégou et al. 2011): each 64-dim
    * vector is encoded as 8 sub-space codes (4 bits each — 8 codes vs
    * 256 raw bytes, the 32× compression an ANN index stores at 100 TB);
    * queries score candidates ASYMMETRICALLY (ADC): the full query
    * sub-vector against the candidate's reconstructed codeword, summed
    * over sub-spaces in fixed order; the ADC shortlist (4k ids) is then
    * EXACT-reranked by true cosine — the standard two-stage serving
    * shape (compressed scan → tiny exact gather).
    *
    * Scale shape: encoding is MAP-ONLY (one [[graft.functions.NearestCells]]
    * L2-argmin per sub-space over the broadcast codebook — zero
    * exchanges); the big scan reads the CODES table (8 ints/vector),
    * never raw embeddings; shortlisting uses the bounded
    * [[graft.functions.TopKByScore]] aggregate (≤ 4k rows per query per
    * partition); the re-rank gathers only R×Q full vectors by an
    * id equi-join. The whole pipeline — encode, ADC, shortlist,
    * re-rank — is replayed exactly by [[pqTrainedOracle]]. */
  def annPq(spark: SparkSession, sfDir: String,
            nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    annPqWith(v, withTrainCache(v)(trainPqCodebooks(_)), nQueries, k)
  }

  /** Stage-1 ADC scoring of every candidate against the broadcast
    * query set over the codes table — shared by [[annPqWith]] and the
    * shortlist sweep (which ranks it ONCE at the largest factor and
    * reads smaller factors as prefixes). */
  private def pqAdcScored(v: DataFrame, cbs: Array[Array[Array[Double]]],
                          nQueries: Int): DataFrame =
    candidates(
      v.select(col("vec_id").as("neighbor_id") +: pqCodeCols(cbs, "embedding"): _*),
      v.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("e_q")),
      adcScore(cbs, "e_q"), "score")

  // stage 1 — ADC shortlist over the CODES table (compressed scan);
  // stage 2 — exact re-rank of the gathered shortlist
  private def annPqWith(v: DataFrame, cbs: Array[Array[Array[Double]]],
                        nQueries: Int, k: Int): DataFrame =
    shortlistRerank(pqAdcScored(v, cbs, nQueries), v, nQueries, k)

  /** §2 #234 — SQ8 ANN (scalar-quantized flat scan, the FAISS
    * `SQfp8`/`QT_8bit` serving mode): stage 1 scores EVERY candidate by
    * `cos(q, dequant_i8(x))` — the asymmetric distance over
    * [[graft.functions.Sq8Dequant]]'s int8 storage leg that #120 (embedding_quantize)
    * writes and #121 (quantize_eval) prices — and stage 2 exact-reranks
    * the bounded shortlist ([[shortlistRerank]], shared with the PQ
    * family). The compression rung BETWEEN raw floats and PQ: 4× smaller
    * scan than float32 (1 byte/dim + one scale per vector) with far less
    * distortion than 8×4-bit PQ, no training, no codebook lifecycle —
    * the right serving mode when storage is the constraint but recall
    * must stay near-exact ([[annRecallEvalPq]] prices it against the PQ
    * ladder). Quantization is deterministic per vector, so the DuckDB
    * oracle is STATIC SQL — no trained literals.
    *
    * Scale shape: identical to [[annBruteforce]]'s broadcast-query scan
    * but over 1-byte codes instead of 4-byte floats; shortlist ranking
    * is the bounded [[graft.functions.TopKByScore]] aggregate (exchange
    * carries ≤ shortlist rows per query per partition); the exact
    * re-rank gathers only shortlist×queries float vectors by equi-join. */
  def annSq8(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5,
             shortlistFactor: Int = 8): DataFrame = {
    val v = vectors(spark, sfDir)
    annSq8With(v, nQueries, k, shortlistFactor)
  }

  private[graft] def annSq8With(v: DataFrame, nQueries: Int, k: Int,
                                shortlistFactor: Int = 8): DataFrame = {
    val queries = queryVecs(v.filter(col("vec_id") < nQueries))
    exactRerank(sq8Shortlist(candVecs(v), queries, shortlistFactor * k),
      candVecs(v), queries, k)
  }

  /** DuckDB replay for [[annSq8]] — static SQL: per-element max-abs
    * quantize/clamp/dequantize (the embedding_quantize oracle's exact
    * formula), stage-1 cosine as three left folds, the same
    * shortlist-then-exact-re-rank tail as [[pqOracleFor]]. */
  def sq8Oracle(nQueries: Int = 10, k: Int = 5,
                shortlistFactor: Int = 8): String = {
    s"""WITH nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        dq AS (${sq8DequantCteBody}),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (${dotSql("q.embedding", "n.d")}
                   / (sqrt(${dotSql("q.embedding", "q.embedding")})
                      * sqrt(${dotSql("n.d", "n.d")}))) DESC,
                n.vec_id) AS r
            FROM embeddings q JOIN dq n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE r <= ${shortlistFactor * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** §2 #236 — IVF-SQ8 (the FAISS `IndexIVFScalarQuantizer(QT_8bit)`
    * composition): the coarse quantizer (#39/#66) composed with int8
    * scalar quantization (#234) — the sub-linear-scan × recall-free-
    * compression point of the serving ladder. A query probes its
    * `nProbe` nearest cells and sq8-scores ONLY those cells' rows (the
    * scan shrinks by ~nProbe/nCells AND reads 1 byte/dim instead of 4 —
    * the two savings multiply, the IVFADC argument at 4× instead of
    * 32×); the shortlist is exact-reranked by true cosine. Because sq8
    * scoring is near-exact (#226 measures recall 1.00 for the flat
    * scan), the probe pattern is the ONLY recall loss: SimilaritySpec
    * pins this output equal to [[annIvf]]'s at the same operating
    * point — you pay 4× less scan IO for identical answers.
    *
    * Same scale shape as [[annIvfPq]]: map-only assignment over
    * broadcast centroids, cell equi-join against the ≤ nQueries×nProbe
    * broadcast probe set, bounded TopK both stages. Everything
    * downstream of the trained quantizer is replayed exactly by
    * [[ivfSq8TrainedOracle]]. */
  def annIvfSq8(spark: SparkSession, sfDir: String, nCells: Int = 16,
                nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    annIvfSq8With(v, withTrainCache(v)(trainCentroids(_, nCells)),
      nProbe, nQueries, k)
  }

  private[graft] def annIvfSq8With(v: DataFrame,
                                   cents: Array[Array[Double]],
                                   nProbe: Int, nQueries: Int, k: Int,
                                   shortlistFactor: Int = 8): DataFrame = {
    val qs = v.filter(col("vec_id") < nQueries)
    // stage 1 — sq8 shortlist over the PROBED CELLS only; stage 2 —
    // exact re-rank of the shortlist by true cosine
    exactRerank(sq8Shortlist(ivfLists(v, cents), probeFrame(qs, cents, nProbe),
      shortlistFactor * k), candVecs(v), queryVecs(qs), k)
  }

  /** DuckDB replay for [[annIvfSq8]]: trained centroids inlined (the
    * [[ivfTrainedOracle]] stance), then cell assignment/probing exactly
    * as [[ivfPqOracleFor]] and the sq8 scoring exactly as [[sq8Oracle]]
    * — the two proven replays composed. */
  def ivfSq8TrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                          nQueries: Int = 10, k: Int = 5,
                          shortlistFactor: Int = 8): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    ivfSq8OracleFor(cents, nProbe, nQueries, k, shortlistFactor)
  }

  /** [[ivfSq8TrainedOracle]]'s replay for a GIVEN quantizer — shared
    * with the static-quantizer artifact leg ([[annIvfSq8Indexed]]),
    * which serves bit-identically by construction. */
  private def ivfSq8OracleFor(cents: Array[Array[Double]],
                              nProbe: Int, nQueries: Int, k: Int,
                              shortlistFactor: Int): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        dq AS (${sq8DequantCteBody}),
        acand AS (SELECT a.cell, d.vec_id, d.d FROM dq d
                  JOIN (SELECT vec_id, cell FROM ranked WHERE crnk = 1) a
                    ON a.vec_id = d.vec_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${dotSql("p.e_q", "n.d")}
                   / (sqrt(${dotSql("p.e_q", "p.e_q")})
                      * sqrt(${dotSql("n.d", "n.d")}))) DESC,
                n.vec_id) AS r
            FROM probes p, acand n
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${shortlistFactor * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** §2 #90 — IVFADC (Jégou et al. 2011 §IV): the coarse quantizer
    * (#39/#66) composed with product quantization (#89) — the actual
    * 100 TB serving index. Every vector is coarse-assigned to one cell
    * AND PQ-encoded, both MAP-ONLY over broadcast model state; a query
    * probes its `nProbe` nearest cells and ADC-scores ONLY the codes in
    * those cells (the scan shrinks by ~nProbe/nCells AND reads 8 ints
    * per candidate instead of 256 raw bytes — the two compressions
    * multiply); the shortlist is exact-reranked by true cosine.
    *
    * Cells partition the corpus and a query's probed cells are
    * distinct, so (query, candidate) pairs are unique by construction —
    * no distinct. Both ranking stages are the bounded
    * [[graft.functions.TopKByScore]] aggregate. Everything downstream
    * of the two trained models is replayed exactly by
    * [[ivfPqTrainedOracle]]. */
  def annIvfPq(spark: SparkSession, sfDir: String, nCells: Int = 16,
               nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = ivfPqModels(v, nCells)
    annIvfPqWith(v, cents, cbs, nProbe, nQueries, k)
  }

  private def annIvfPqWith(v: DataFrame, cents: Array[Array[Double]],
                           cbs: Array[Array[Array[Double]]],
                           nProbe: Int, nQueries: Int, k: Int,
                           shortlistFactor: Int = 8): DataFrame = {
    // one map-only pass builds the whole index row: coarse cell + codes
    val coded = v.select(cellOf(cents) +: col("vec_id").as("neighbor_id") +:
      pqCodeCols(cbs, "embedding"): _*)
    val probes = probeFrame(v.filter(col("vec_id") < nQueries), cents, nProbe)
      .select("cell", "query_id", "e_q")
    // stage 1 — ADC shortlist over the codes of PROBED CELLS only;
    // stage 2 — exact re-rank of the shortlist by true cosine
    shortlistRerank(candidates(coded, probes, adcScore(cbs, "e_q"), "score"),
      v, nQueries, k, shortlistFactor)
  }

  /** Inline IVF×OPQ serving: [[annIvfPqWith]] with the PQ stage in
    * ROTATED space — codes quantize R·x per probed cell, the ADC dots
    * read the rotated query's slices, the exact re-rank stays in the
    * original space. The arithmetic twin of what
    * [[annServeFromPqIndex]] computes off an OPQ-marked artifact
    * (SimilaritySpec pins the equality), and the composition
    * [[annRecallEvalPq]]'s `ann_ivfpq_opq` row prices. */
  private[graft] def annIvfPqOpqWith(v: DataFrame,
                              cents: Array[Array[Double]],
                              r: Array[Array[Double]],
                              cbs: Array[Array[Array[Double]]],
                              nProbe: Int, nQueries: Int, k: Int,
                              shortlistFactor: Int = 8): DataFrame = {
    // one map-only pass: coarse cell (original space) + rotated codes
    val coded = v
      .select(cellOf(cents), col("vec_id").as("neighbor_id"),
        rotCol(r, col("embedding")).as("re"))
      .select(col("cell") +: col("neighbor_id") +: pqCodeCols(cbs, "re"): _*)
    val probes = probeFrame(v.filter(col("vec_id") < nQueries), cents, nProbe)
      .select(col("cell"), col("query_id"), rotCol(r, col("e_q")).as("e_s"))
    shortlistRerank(candidates(coded, probes, adcScore(cbs, "e_s"), "score"),
      v, nQueries, k, shortlistFactor)
  }

  /** §2 #241 — OPQ IVFADC serving FROM THE ARTIFACT: the
    * [[annIvfPqIndexed]] lifecycle with an OPQ-rotated PQ leg
    * (`ivfPqIndexAdd(rotation = Some(R))`) — the serving form of
    * [[annPqOpq]]'s measured recall lift, which until this query could
    * not be served from the artifact at all (the rotation had no slot
    * in the codebook unit). The `_rotation` marker beside the
    * codebooks tells serving to rotate the query before the ADC dots,
    * and the same marker steers re-sync, `pq_drift`, and retrain.
    * Identical to the inline [[annIvfPqOpqWith]] under the same models
    * (SimilaritySpec pins it; shared [[ivfPqOpqTrainedOracle]]). */
  def annIvfPqOpqIndexed(spark: SparkSession, sfDir: String,
                         nProbe: Int = 4, nQueries: Int = 10,
                         k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, rO, cbsO) = withTrainCache(v) { vc =>
      val c = trainCentroids(vc, 16)
      val (r, cb) = trainOpqRotation(vc)
      (c, r, cb)
    }
    serveFreshIndex(spark, sfDir, "ivfpq-index", nQueries)(
      ivfPqArtifact(spark, v, cents, cbsO, rotation = Some(rO)))(
      annServeFromPqIndex(spark, _, _, nProbe, k))
  }

  /** (vec_id, cell, res) for every corpus vector: its coarse cell and
    * the DOUBLE-precision residual `e − c(e)` — the quantity a residual
    * product quantizer trains on and encodes. Float elements are cast
    * to double BEFORE the subtract (exact), so DuckDB's
    * `CAST(x AS DOUBLE) − c` replays it bit-for-bit; the residual is
    * never rounded back to float. zip_with is CodegenFallback, but it
    * runs once per corpus ROW on map-only passes (train/encode), never
    * on the per-pair ADC hot path. */
  private def residualAssigned(v: DataFrame,
                               cents: Array[Array[Double]]): DataFrame = {
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    v.select(col("vec_id"), col("embedding"),
        cellOf(cents))
      .withColumn("res",
        zip_with(col("embedding"), element_at(centArr, col("cell") + 1),
          (x, c) => x.cast("double") - c))
  }

  /** §2 #227 — IVFADC with RESIDUAL encoding (Jégou et al. 2011 §IV-A —
    * the composition the paper actually recommends): PQ codes quantize
    * `e − c(e)` (the vector's offset from its coarse centroid) instead
    * of the raw vector. Residuals of a cell concentrate near 0 with far
    * smaller variance than the raw corpus, so the SAME m×k codebook
    * budget spends its codewords on a much tighter distribution —
    * measured recall@5 at sf0.01 rises vs raw-encoded [[annIvfPq]]
    * (see `ann_recall_eval_pq`'s table) at IDENTICAL storage (8 nibble
    * codes/vector) and identical scan shape. ADC recovers
    * `dot(q, c + recon(codes)) = dot(q, c) + Σ_m dot(q_m, cw_m)`: one
    * extra per-(query, probed-cell) centroid dot — constant work per
    * probe pair, computed from the broadcast models, nothing new moves.
    *
    * Scale shape is [[annIvfPq]]'s unchanged: assignment + residual +
    * encoding are ONE map-only pass over broadcast model state; the ADC
    * scan reads codes of probed cells only; both ranking stages are the
    * bounded [[graft.functions.TopKByScore]] aggregate; the re-rank
    * gathers shortlist×queries full vectors by equi-join. Everything
    * downstream of the two trained models is replayed exactly by
    * [[ivfPqResidualTrainedOracle]]. */
  def annIvfPqResidual(spark: SparkSession, sfDir: String, nCells: Int = 16,
                       nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = residualModels(v, nCells)
    annIvfPqResidualWith(v, cents, cbs, nProbe, nQueries, k)
  }

  private[graft] def annIvfPqResidualWith(v: DataFrame,
                                          cents: Array[Array[Double]],
                                          cbs: Array[Array[Array[Double]]],
                                          nProbe: Int, nQueries: Int, k: Int,
                                          shortlistFactor: Int = 8)
      : DataFrame = {
    // one map-only pass: coarse cell + double residual + residual codes
    val coded = residualAssigned(v, cents)
      .select(col("cell") +: col("vec_id").as("neighbor_id") +:
        pqCodeCols(cbs, "res"): _*)
    val probes = probeFrame(v.filter(col("vec_id") < nQueries), cents, nProbe)
      .select("cell", "query_id", "e_q")
    // stage 1 — centroid-plus-codeword ADC shortlist over the residual
    // codes of PROBED CELLS; stage 2 — exact re-rank by true cosine
    shortlistRerank(
      candidates(coded, probes, adcScore(cbs, "e_q", Some(cents)), "score"),
      v, nQueries, k, shortlistFactor)
  }

  /** Oracle for [[annIvfPqResidual]]: both trained models inlined (the
    * [[ivfTrainedOracle]] stance); coarse assignment, the DOUBLE
    * residual subtract, residual PQ encoding, the centroid-plus-codeword
    * ADC, shortlist, and re-rank replayed exactly. */
  def ivfPqResidualTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                                 nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val (cents, cbs) = residualModels(v, nCells)
    ivfPqResidualOracleFor(cents, cbs, nProbe, nQueries, k)
  }

  private def ivfPqResidualOracleFor(cents: Array[Array[Double]],
                                     cbs: Array[Array[Array[Double]]],
                                     nProbe: Int, nQueries: Int,
                                     k: Int): String = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    // centroid term FIRST, then sub-spaces left to right — the engine's
    // reduceLeft order
    val adc = (s"${dotSql("p.e_q", "ct.cv")}" +: (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_q[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }).mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        resid AS (SELECT r.vec_id, r.cell,
            list_transform(list_zip(r.embedding, c.cv),
              x -> CAST(x[1] AS DOUBLE) - x[2]) AS re
          FROM (SELECT vec_id, embedding, cell FROM ranked WHERE crnk = 1) r
          JOIN cents c ON c.cell = r.cell),
        sub AS (SELECT vec_id, mm.m AS m,
                  re[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM resid,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        acodes AS (SELECT a.cell, c.* FROM codes c
                   JOIN (SELECT vec_id, cell FROM resid) a
                     ON a.vec_id = c.vec_id),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM probes p, cents ct, acodes n, cbl
            WHERE ct.cell = p.cell AND n.cell = p.cell
              AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** PQ (ADC) ACCELERATION LEG for the IVF index artifact — the
    * 32×-compressed scan table a 100 TB deployment actually serves
    * from. Derived strictly FROM the artifact: codebooks trained on
    * the artifact's own BASE rows (reused untouched when `codebooks/`
    * already exists — the re-sync path), every base vector PQ-encoded
    * map-only, codes landed cell-partitioned beside `assigned/`:
    * {{{
    *   dir/codes/      (vec_id, c0..c{m-1})  PARTITIONED BY cell
    *   dir/codebooks/  (m, cell, codeword)   m×k×sub model state
    * }}}
    * `assigned/` stays the ground truth (exact re-rank gathers from
    * it); `codes/` is the acceleration structure, version-consistent
    * by construction and by marker:
    *  - codes cover the BASE only — live `stream/batch_id=N` deltas
    *    serve through the exact fresh path ([[annServeFromPqIndex]]),
    *    the sealed-segments-compressed / fresh-buffer-exact split of
    *    every production ANN engine;
    *  - a `_synced_to` marker inside `codes/` records the base
    *    compaction watermark the encode saw; after [[ivfIndexCompact]]
    *    folds deltas into the base the markers disagree and serving
    *    REFUSES loudly until `ivfPqIndexAdd` re-syncs (a map-only
    *    re-encode with the stored codebooks — same order of work as
    *    the compaction that invalidated it);
    *  - [[ivfIndexRebuild]] swaps the whole artifact, so stale codes
    *    cannot survive a quantizer retrain: `codes/` simply vanishes
    *    and serving refuses until a re-add retrains codebooks under
    *    the new quantizer.
    * Pass `codebooks` to reuse an externally trained model (the
    * bench/oracle path trains once on the cached corpus and shares the
    * literals with the SQL replay).
    *
    * ENCODING MODE: `residual = Some(true)` trains/encodes the leg in
    * RESIDUAL space (`e − c(e)` under the artifact's own centroids and
    * stored cell assignment — [[annIvfPqResidual]]'s higher-recall
    * form at identical storage); the mode is pinned as a `_residual`
    * marker beside the codebooks and every later verb follows it:
    * serving adds the centroid ADC term, re-sync re-encodes residuals,
    * `pq_drift` measures distortion in residual space, and a plain
    * `retrain = true` keeps the mode. `None` (the default) keeps the
    * stored mode — raw for a fresh leg — so existing cadences never
    * change encoding by omission. A RE-SYNC cannot change the mode
    * (codes from one space scored under another space's codebooks
    * would be silently wrong): passing a contradicting `Some` without
    * `retrain` refuses loudly. NOTE a quantizer rebuild drops the leg
    * with its marker — [[graft.api.Graft.maintainIvfIndex]] captures
    * the mode before rebuilding and restates it on the re-add; a
    * manual rebuild + re-add must do the same.
    *
    * WHENEVER the codebooks are (re)trained — fresh add, explicit
    * `codebooks`, or `retrain = true` — the per-sub-space distortion
    * of the base under them is pinned as `pq_baseline/`
    * ([[pqDistortionStats]]): the build-time truth
    * [[pqDriftFromIndex]] monitors against. A pure re-sync leaves the
    * baseline UNTOUCHED (it re-encodes an already-drifted base, and a
    * re-derived baseline would reset the monitor at every compaction
    * fold — the `drift_baseline/` lesson). `retrain = true` is the
    * action `is_stale` calls for: codebooks re-trained on the CURRENT
    * base, codes re-encoded, baseline re-pinned — distortion returns
    * to the trained-fit level (SimilaritySpec measures the round
    * trip). */
  def ivfPqIndexAdd(spark: SparkSession, dir: String,
                    codebooks: Option[Array[Array[Array[Double]]]] = None,
                    retrain: Boolean = false,
                    residual: Option[Boolean] = None,
                    rotation: Option[Array[Array[Double]]] = None,
                    opq: Option[Boolean] = None)
      : Unit = {
    // the PQ serving path scores RAW queries (annServeFromPqIndex is
    // requireRawIndex-guarded); a PQ leg over a whitened artifact
    // would be unreachable by construction — refuse the build, not
    // just the serve
    requireRawIndex(spark, dir)
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val base = spark.read.parquet(s"$dir/assigned")
    val (fs, cbPath) = StreamIO.fsFor(s"$dir/codebooks", conf)
    require(!(opq.contains(false) && rotation.isDefined),
      "opq = Some(false) contradicts an explicit rotation")
    require(rotation.isEmpty || codebooks.isDefined,
      "an explicit rotation needs its matching codebooks (OPQ " +
        "codebooks are trained in the rotated space — passing one " +
        "half would pair models from two spaces)")
    val reuseStored = codebooks.isEmpty && rotation.isEmpty && !retrain &&
      fs.exists(cbPath)
    // resolve the encoding mode BEFORE touching anything: stored mode
    // when a consistent leg exists (readResidualMode REFUSES a torn
    // codebook unit — consulted lazily, so a retrain that states its
    // mode recovers a torn leg instead of tripping on it), else the
    // caller's choice, else raw
    def storedMode(): Option[Boolean] =
      if (fs.exists(cbPath)) Some(readResidualMode(spark, dir)) else None
    val mode: Boolean =
      if (reuseStored) {
        val m = storedMode().getOrElse(false)
        require(residual.forall(_ == m),
          s"PQ leg at $dir is ${if (m) "residual" else "raw"}-encoded; " +
            "a re-sync cannot change the encoding (codes from one " +
            "space under another space's codebooks are silently " +
            "wrong). Pass retrain = true to re-train in the new mode.")
        m
      } else residual.orElse(storedMode()).getOrElse(false)
    // the rotation (OPQ) mode resolves by the SAME doctrine: stored on
    // a pure re-sync (a contradicting `opq` refuses — rotated-space
    // codes under unrotated scoring are silently wrong, and vice
    // versa), else the caller's choice, else the stored mode, else off
    def storedRotMode(): Option[Boolean] =
      if (fs.exists(cbPath)) Some(readPqRotationMode(spark, dir)) else None
    val rotMode: Boolean =
      if (codebooks.isDefined) {
        // an explicit model pair IS the unit: its rotation mode is
        // whether a rotation came with it (the codebooks were trained
        // in that rotation's space). The stored mode CANNOT leak in
        // here — inheriting _rotation=1 while encoding with an
        // unrotated external model would write a unit whose marker
        // and codes disagree, exactly the silent mismatch the marker
        // doctrine exists to prevent.
        require(opq.forall(_ == rotation.isDefined),
          "opq contradicts the explicit model pair: pass the rotation " +
            "together with its codebooks (they are one unit), or drop " +
            "the opq flag")
        require(rotation.isDefined || opq.isDefined ||
            !storedRotMode().getOrElse(false),
          s"PQ leg at $dir is OPQ-rotated but the explicit codebooks " +
            "came without a rotation — refusing the silent downgrade. " +
            "Pass rotation = Some(R) to stay OPQ, or opq = Some(false) " +
            "to deliberately re-key unrotated.")
        rotation.isDefined
      } else if (reuseStored) {
        val m = storedRotMode().getOrElse(false)
        require(opq.forall(_ == m),
          s"PQ leg at $dir is ${if (m) "OPQ-rotated" else "unrotated"}; " +
            "a re-sync cannot change the rotation mode. Pass retrain = " +
            "true to re-train in the new mode.")
        m
      } else opq.orElse(storedRotMode()).getOrElse(false)
    // residual mode subtracts the artifact's own centroid per the
    // STORED cell assignment — the exact quantity serving adds back
    lazy val cents = readIvfCentroids(spark, dir)
    def residualFrameOf(df: DataFrame): DataFrame = {
      val centArr = typedLit(cents.map(_.toSeq).toSeq)
      df.select(col("cell"), col("vec_id"),
        zip_with(col("embedding"), element_at(centArr, col("cell") + 1),
          (x, c) => x.cast("double") - c).as("embedding"))
    }
    // the rotation applies AFTER the residual/raw choice (OPQ rotates
    // the encoding-space vector, whichever space that is)
    def encBase(df: DataFrame): DataFrame =
      if (mode) residualFrameOf(df)
      else df.select(col("cell"), col("vec_id"), col("embedding"))
    // resolve (rotation, codebooks) TOGETHER — OPQ codebooks only make
    // sense in their rotation's space, so the pair travels as a unit
    val (rot, cbs): (Option[Array[Array[Double]]],
                     Array[Array[Array[Double]]]) =
      if (codebooks.isDefined) (rotation, codebooks.get)
      else if (reuseStored)
        (if (rotMode) Some(readPqRotation(spark, dir)) else None,
          readPqCodebooks(spark, dir))
      else {
        val vecs = encBase(base)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // sub-space width stays 8; the COUNT of sub-spaces follows the
        // artifact's actual embedding dim, so the leg works on any
        // 8-divisible dimension, not just the 64-dim fixture
        try {
          val dim = vecs.select(size(col("embedding"))).head().getInt(0)
          require(dim % 8 == 0, s"PQ sub-space width is 8: embedding " +
            s"dim $dim must be divisible by 8")
          if (rotMode) {
            val (r, c) = trainOpqRotation(
              vecs.select(col("vec_id"), col("embedding")), m = dim / 8)
            (Some(r), c)
          } else (None, trainPqCodebooks(vecs, m = dim / 8, sub = 8))
        }
        finally { vecs.unpersist(blocking = false); () }
      }
    def encodeSpace(df: DataFrame): DataFrame = {
      val e = encBase(df)
      rot.map(r => e.select(col("cell"), col("vec_id"),
        rotCol(r, col("embedding")).as("embedding"))).getOrElse(e)
    }
    // residual codes read from the residual frame under the SAME
    // column name the raw path reads, so one codeCols expression
    // serves both encodings
    encodeSpace(base).withColumnRenamed("embedding", "enc")
      .select(col("cell") +: col("vec_id") +: pqCodeCols(cbs, "enc"): _*)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
    // the codebook UNIT (codebooks + baseline + mode marker) is
    // written ONLY when it changed — a pure re-sync re-encodes codes
    // and leaves the unit byte-for-byte alone, so no crash window in
    // a re-sync can tear it. On a (re)train the marker lands LAST:
    // a crash inside the unit write leaves no marker and every
    // reader ([[readResidualMode]]) refuses rather than pairing
    // codebooks with a guessed encoding space or a stale baseline.
    if (!reuseStored) {
      import spark.implicits._
      cbs.zipWithIndex.flatMap { case (cb, mi) =>
        cb.zipWithIndex.map { case (cw, ci) => (mi, ci, cw.toSeq) }
      }.toSeq.toDF("m", "cell", "codeword")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      // the rotation member lands inside the unit too (d×d doubles of
      // model state), before the baseline and markers; a unit trained
      // WITHOUT a rotation removes any stale member from a previous
      // OPQ vintage (readers key on the marker, but a dead member
      // invites exactly the manual-surgery tear readPqRotation guards)
      rot match {
        case Some(r) =>
          r.zipWithIndex.map { case (row, j) => (j, row.toSeq) }.toSeq
            .toDF("j", "rv")
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
        case None =>
          StreamIO.deleteRecursively(s"$dir/rotation", conf)
      }
      // the distortion baseline pins in the ENCODING space (residual
      // distortion is what a residual leg's ADC loses; a rotated leg's
      // in ROTATED space — that is the reconstruction its ADC reads) —
      // inside the unit, before the markers, so a stale baseline can
      // never pair with fresh codebooks
      pqDistortionStats(encodeSpace(base), cbs, "base")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_baseline")
      // markers land LAST, `_residual` very last: readResidualMode's
      // completeness doctrine keys on it, so a crash anywhere inside
      // the unit (including between the two markers) leaves a unit
      // every reader refuses — the rotation can never be half-adopted
      StreamIO.writeMarker(s"$dir/codebooks", "_rotation",
        if (rotMode) 1L else 0L, conf)
      StreamIO.writeMarker(s"$dir/codebooks", "_residual",
        if (mode) 1L else 0L, conf)
    }
    // pin the coverage: codes encode the base as of this compaction
    // watermark — serving compares and refuses a stale scan table
    StreamIO.writeMarker(s"$dir/codes", "_synced_to",
      StreamIO.readMarker(s"$dir/assigned", "_compacted_through", conf)
        .getOrElse(-1L), conf)
  }

  /** The PQ leg's encoding mode. [[ivfPqIndexAdd]] writes the
    * `_residual` marker strictly after the codebook unit it describes
    * (codebooks + distortion baseline), so a missing marker means one
    * of two things, distinguished by the baseline's presence:
    *
    *  - marker absent, `pq_baseline/` PRESENT: the (re)train crashed
    *    mid-unit (between the baseline and the marker) and the stored
    *    pieces may disagree — refuse rather than guess (a wrong guess
    *    scores one space's codes under the other space's codebooks,
    *    silently);
    *  - marker absent, `pq_baseline/` ABSENT, `codes/_synced_to`
    *    PRESENT: the LEGACY pre-marker layout — those legs were
    *    trained before residual encoding (or the baseline snapshot)
    *    existed and COMPLETED (`_synced_to` is every add's final
    *    write, and the codes overwrite clears it first), so the mode
    *    is raw by construction, not a guess. Returns `false`;
    *  - marker absent, `pq_baseline/` ABSENT, `codes/_synced_to`
    *    ABSENT: a first (re)train crashed mid-write — the codebooks'
    *    encoding space is unknown, so refuse. Serving would refuse on
    *    staleness anyway, but the RE-SYNC path both consults the mode
    *    AND repairs the staleness marker: a raw guess here would
    *    launder a torn residual train into a consistent-looking,
    *    silently-wrong raw leg.
    */
  private[graft] def readResidualMode(spark: SparkSession,
                                      dir: String): Boolean = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    StreamIO.readMarker(s"$dir/codebooks", "_residual", conf) match {
      case Some(v) => v == 1L
      case None =>
        val (fs, bl) = StreamIO.fsFor(s"$dir/pq_baseline", conf)
        if (fs.exists(bl)) throw new IllegalArgumentException(
          s"PQ codebooks at $dir/codebooks carry no _residual marker " +
            "but a pq_baseline/ snapshot exists — the codebook " +
            "(re)train crashed mid-unit (the marker lands after the " +
            "codebooks and baseline), so the stored pieces may " +
            "disagree and their encoding space is unknown. Re-run " +
            "ivfPqIndexAdd(retrain = true, residual = Some(<intended " +
            "mode>)).")
        if (StreamIO.readMarker(s"$dir/codes", "_synced_to", conf).isEmpty)
          throw new IllegalArgumentException(
            s"PQ codebooks at $dir/codebooks carry no _residual marker, " +
              "no pq_baseline/ snapshot, and codes/ has no _synced_to — " +
              "a first (re)train crashed mid-write (a completed legacy " +
              "pre-marker leg always carries _synced_to), so the " +
              "encoding space is unknown. Re-run ivfPqIndexAdd(retrain " +
              "= true, residual = Some(<intended mode>)).")
        false // completed legacy pre-marker layout: raw by construction
    }
  }

  /** Whether the PQ leg's codebooks were trained under an OPQ rotation.
    * [[ivfPqIndexAdd]] writes the `_rotation` marker strictly BEFORE
    * `_residual`, so on any COMPLETE unit (the only kind
    * [[readResidualMode]]'s doctrine lets a caller past) an absent
    * `_rotation` marker means a rotation-unaware vintage — unrotated by
    * construction, not a guess. Consult [[readResidualMode]] first: it
    * is the completeness gate for the whole unit. */
  private[graft] def readPqRotationMode(spark: SparkSession,
                                        dir: String): Boolean =
    graft.streaming.StreamIO.readMarker(s"$dir/codebooks", "_rotation",
      spark.sparkContext.hadoopConfiguration).contains(1L)

  /** The stored OPQ rotation (d×d doubles — model state). Refuses
    * loudly when the `_rotation` marker promises one but `rotation/`
    * is missing (a torn unit that escaped the marker doctrine, e.g. a
    * partial manual delete): guessing identity would silently score
    * rotated codes against unrotated queries. */
  private[graft] def readPqRotation(spark: SparkSession,
                                    dir: String): Array[Array[Double]] = {
    val (fs, rp) = graft.streaming.StreamIO.fsFor(s"$dir/rotation",
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rp),
      s"PQ unit at $dir carries _rotation = 1 but rotation/ is missing " +
        "— the unit is torn. Re-run ivfPqIndexAdd(retrain = true, " +
        "opq = Some(true)).")
    spark.read.parquet(s"$dir/rotation").orderBy("j").collect()
      .map(_.getAs[Seq[Double]]("rv").toArray)
  }

  /** PQ codebooks back from an artifact's `codebooks/` (bounded:
    * m × k × sub doubles — model state, never data). */
  def readPqCodebooks(spark: SparkSession,
                      dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .orderBy("m", "cell").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1))
        .map(_.getAs[Seq[Double]]("codeword").toArray)
    }.toArray
  }

  /** IVFADC serving FROM THE ARTIFACT: ADC shortlist over the probed
    * cells of the compressed `codes/` table (8 ints per candidate —
    * the scan [[annIvfPq]] builds inline every call, here read from
    * the materialized leg with cell partition pruning), live deltas
    * routed straight to the exact stage (fresh-buffer semantics: a
    * delta vector is never ADC-approximated and can never be
    * shortlist-pruned), and one exact cosine re-rank over the union,
    * gathering full vectors by id from `assigned/`. Refuses loudly
    * when `codes/` is absent (run [[ivfPqIndexAdd]]) or predates the
    * base's compaction watermark (re-sync — see [[ivfPqIndexAdd]]).
    * With no live deltas the output is IDENTICAL to [[annIvfPq]] under
    * the same models (SimilaritySpec; shared [[ivfPqTrainedOracle]]).
    *
    * `shortlistFactor = 0` (the default) resolves MODE-AWARE from the
    * leg's stored `_residual` marker: 4 for a residual leg, 8 for raw
    * — [[pqShortlistSweepResidual]] prices residual f=4 at the same
    * recall as raw f=8 (0.80 at sf0.01), so the residual default buys
    * HALF the exact-gather bill for free. Explicit callers are
    * untouched (any positive factor is used as passed). */
  def annServeFromPqIndex(spark: SparkSession, dir: String,
                          queries: DataFrame, nProbe: Int = 4, k: Int = 5,
                          shortlistFactor: Int = 0): DataFrame = {
    val (cand, q, all) = pqAdcCandidates(spark, dir, queries, nProbe, k,
      shortlistFactor)
    exactRerank(cand, candVecs(all), q, k)
  }

  /** The PQ leg's CANDIDATE machinery, shared by the top-k serve
    * ([[annServeFromPqIndex]]) and the MMR-over-ADC form
    * ([[annMmrPqFromIndex]]): every staleness/mode/rotation guard, the
    * ADC scan of the probed `codes/` cells cut to a bounded TopK, and
    * live deltas routed straight to the exact stage (fresh-buffer
    * semantics). Returns (candidates (query_id, neighbor_id),
    * q (query_id, e_q, n_q), assigned-with-deltas) — the exact stage
    * differs per caller (rank-k vs rescore-then-greedy), the bill that
    * touches the corpus does not. */
  private def pqAdcCandidates(spark: SparkSession, dir: String,
                              queries: DataFrame, nProbe: Int, k: Int,
                              shortlistFactor: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    requireRawIndex(spark, dir)
    require(shortlistFactor >= 0,
      s"shortlistFactor must be positive (or 0 = mode-aware default): " +
        s"$shortlistFactor")
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, codesPath) = StreamIO.fsFor(s"$dir/codes", conf)
    require(fs.exists(codesPath),
      s"no PQ leg at $dir/codes — run ivfPqIndexAdd first")
    // the marker is REQUIRED, not defaulted: ivfPqIndexAdd writes it
    // strictly after the codes land, so its absence means the encode
    // crashed mid-write and the scan table may silently miss vectors
    val synced = StreamIO.readMarker(s"$dir/codes", "_synced_to", conf)
      .getOrElse(throw new IllegalArgumentException(
        s"PQ codes at $dir/codes carry no _synced_to marker — the " +
          "encode did not complete (ivfPqIndexAdd writes the marker " +
          "after the codes). Re-run ivfPqIndexAdd."))
    val folded = StreamIO.readMarker(s"$dir/assigned",
      "_compacted_through", conf).getOrElse(-1L)
    require(synced == folded,
      s"PQ codes at $dir/codes are synced to compaction watermark " +
        s"$synced but the base is folded through $folded — the codes " +
        "miss vectors compaction folded into the base. Re-run " +
        "ivfPqIndexAdd (map-only re-encode with the stored codebooks).")
    val cents = readIvfCentroids(spark, dir)
    val cbs = readPqCodebooks(spark, dir)
    // encoding mode travels with the codebooks: a residual leg's ADC
    // adds the per-(query, probed-cell) centroid dot back (recon =
    // c + codewords); a torn codebook unit refuses here
    val residualMode = readResidualMode(spark, dir)
    // so does the rotation (OPQ) member: ADC must score in the space
    // the codes were trained in, so the query is rotated ONCE per
    // query (broadcast model state) and the sub-space dots read the
    // rotated slices — dot(R·q, cw) = dot(q, Rᵀ·cw), the exact term
    // the rotated reconstruction contributes. The exact re-rank stays
    // in the ORIGINAL space (rotation preserves cosine).
    val rot: Option[Array[Array[Double]]] =
      if (readPqRotationMode(spark, dir)) Some(readPqRotation(spark, dir))
      else None
    // mode-aware default: residual ADC holds raw-f=8 recall at f=4
    // (pqShortlistSweepResidual), so the residual leg's default
    // gathers half the candidates for the same answer quality
    val shortlist = (if (shortlistFactor > 0) shortlistFactor
                     else if (residualMode) 4 else 8) * k
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("e_q"), l2norm(col("embedding")).as("n_q"))
    // the probe keys on the normed query frame `q` the exact stage also
    // reads, and rotates each query once before the cell fan-out
    val probes = q
      .withColumn("e_s",
        rot.map(r => rotCol(r, col("e_q"))).getOrElse(col("e_q")))
      .select(col("query_id"), col("e_q"), col("e_s"),
        explode(graft.functions.VectorQuantize.nearestCells(
          col("e_q"), cents, nProbe)).as("cell"))
    val short = shortlistOf(candidates(
      spark.read.parquet(s"$dir/codes").withColumnRenamed("vec_id", "neighbor_id"),
      probes, adcScore(cbs, "e_s", if (residualMode) Some(cents) else None),
      "score"), shortlist)
    // fresh path: live deltas in probed cells go straight to the exact
    // stage (codes cover the base only, so the two legs are disjoint)
    val all = readIvfAssignedWithBatchId(spark, dir)
    val fresh = all.filter(col("batch_id").isNotNull)
      .select(col("cell"), col("vec_id").as("neighbor_id"))
      .join(broadcast(probes.select("cell", "query_id")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    (short.unionByName(fresh), q, all)
  }

  /** MMR with its stage-1 shortlist from the ADC SCAN of the PQ leg
    * (the VERDICT-r18 #4 composition taken to its cheapest rung): the
    * probed `codes/` cells are ADC-scored (8 ints per candidate — the
    * 32×-compressed read path), a WIDER pre-shortlist (preFactor·f·k,
    * the [[annMmrSq8FromIndex]] two-stage stance) is exact-rescored
    * and cut to the standard f·k, and stages 2–3 are [[mmrRerank]]
    * unchanged — the diversity re-rank with the corpus-scale scan at
    * ADC price while the greedy selection runs over EXACT cosines.
    * Live deltas join the exact pool unpruned (fresh-buffer
    * semantics). At full probes the picks equal the brute [[annMmr]]
    * whenever the exact top-f·k all sit inside the ADC
    * top-preFactor·f·k — ADC's 4-bit codes are a far coarser sketch
    * than sq8's bytes, so that takes a WIDER preFactor (8 on the
    * fixture where sq8 needed 2; SimilaritySpec pins the equality at
    * that budget, [[pqShortlistSweep]] prices the operating points). */
  def annMmrPqFromIndex(spark: SparkSession, dir: String,
                        queryFrame: DataFrame, nProbe: Int = 4,
                        k: Int = 5, shortlistFactor: Int = 8,
                        lambda: Double = 0.7,
                        preFactor: Int = 2): DataFrame = {
    require(shortlistFactor > 0 && preFactor > 0,
      s"MMR needs explicit positive factors: f=$shortlistFactor, " +
        s"pre=$preFactor")
    val (cand, q, all) = pqAdcCandidates(spark, dir, queryFrame, nProbe,
      k, preFactor * shortlistFactor)
    val cands = candVecs(all)
    mmrRerank(rankTopKFull(exactScored(cand, cands, q), shortlistFactor * k),
      cands, k, lambda)
  }

  /** §2 #254 — MMR OVER THE ADC SCAN, FROM THE ARTIFACT: train both
    * models once (the [[annIvfPqIndexed]] doctrine), build the IVF
    * artifact + its PQ leg, then MMR-select the standard query set
    * through [[annMmrPqFromIndex]] — the serving ladder's diversity
    * rung at its cheapest candidate-scan price (raw exact probe →
    * sq8 → ADC, each spec-pinned equal to the brute greedy at full
    * probes on the fixture). */
  def annMmrPqIndexed(spark: SparkSession, sfDir: String,
                      nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                      shortlistFactor: Int = 8, lambda: Double = 0.7,
                      preFactor: Int = 2): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = ivfPqModels(v, 16)
    serveFreshIndex(spark, sfDir, "ivfpq-index", nQueries)(
      ivfPqArtifact(spark, v, cents, cbs))(annMmrPqFromIndex(spark, _, _,
      nProbe, k, shortlistFactor, lambda, preFactor))
  }

  /** §2 #222 — IVFADC serving FROM THE ARTIFACT: train both models
    * once (the [[annIvfPq]] doctrine), build the IVF artifact + its PQ
    * leg, then serve the standard query set from the materialized
    * index. Output is identical to [[annIvfPq]] by construction — same
    * models, same ADC shortlist, same exact re-rank — which the shared
    * [[ivfPqTrainedOracle]] and SimilaritySpec both pin (the
    * [[annIvfIndexed]] pattern, one level up the compression stack). */
  def annIvfPqIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = ivfPqModels(v, 16)
    serveFreshIndex(spark, sfDir, "ivfpq-index", nQueries)(
      ivfPqArtifact(spark, v, cents, cbs))(
      annServeFromPqIndex(spark, _, _, nProbe, k))
  }

  /** §2 #228 — RESIDUAL IVFADC serving FROM THE ARTIFACT: the
    * [[annIvfPqIndexed]] lifecycle with a residual-encoded PQ leg
    * (`ivfPqIndexAdd(residual = Some(true))`) — the artifact form of
    * [[annIvfPqResidual]], proving the higher-recall encoding survives
    * the materialize/marker/serve path bit-identically (shared
    * [[ivfPqResidualTrainedOracle]]): the `_residual` marker beside
    * the codebooks tells serving to add the centroid ADC term, and the
    * same marker steers re-sync, `pq_drift`, and retrain — so the
    * production cadence keeps the recall gain without any caller
    * branching on encoding. */
  def annIvfPqResidualIndexed(spark: SparkSession, sfDir: String,
                              nProbe: Int = 4, nQueries: Int = 10,
                              k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbsR) = residualModels(v, 16)
    // factor pinned to the inline pipeline's 8: this query PROVES
    // artifact serving ≡ the inline residual pipeline at the same
    // operating point (shared oracle). The mode-aware serving default
    // (residual → 4) is spec-pinned separately in SimilaritySpec.
    serveFreshIndex(spark, sfDir, "ivfpq-index", nQueries)(
      ivfPqArtifact(spark, v, cents, cbsR, residual = Some(true)))(
      annServeFromPqIndex(spark, _, _, nProbe, k, shortlistFactor = 8))
  }

  /** Oracle for [[annIvfPq]]: both trained models inlined (the
    * [[ivfTrainedOracle]] stance); coarse assignment, probing, PQ
    * encoding, ADC, shortlist, and re-rank replayed exactly. */
  def ivfPqTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                         nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    ivfPqOracleFor(trainCentroids(v, nCells), trainPqCodebooks(v),
      nProbe, nQueries, k)
  }

  /** Oracle for [[annIvfPqOpqIndexed]]: the [[ivfPqOracleFor]] replay
    * with the trained rotation inlined — codes from the rotated
    * corpus, ADC off the rotated query, exact re-rank unchanged. */
  def ivfPqOpqTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                            nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val v = vectors(spark, sfDir)
    val (cents, rO, cbsO) = withTrainCache(v) { vc =>
      val c = trainCentroids(vc, nCells)
      val (r, cb) = trainOpqRotation(vc)
      (c, r, cb)
    }
    ivfPqOracleFor(cents, cbsO, nProbe, nQueries, k, Some(rO))
  }

  private def ivfPqOracleFor(cents: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]],
                             nProbe: Int, nQueries: Int, k: Int,
                             rotation: Option[Array[Array[Double]]] = None)
      : String = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    // ADC reads the query in ENCODING space (e_s = R·q on a rotated
    // leg, the raw query otherwise)
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"p.e_s[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val rotCtes = rotation.map(r => opqRotCte(r) + ",\n        ")
      .getOrElse("")
    val encSrc = if (rotation.isDefined) "rot" else "embeddings"
    val probesCte = rotation match {
      case Some(_) =>
        s"""probes AS (SELECT r.cell, r.vec_id AS query_id,
                 rt.embedding AS e_s
               FROM ranked r JOIN rot rt ON rt.vec_id = r.vec_id
               WHERE r.crnk <= $nProbe AND r.vec_id < $nQueries)"""
      case None =>
        s"""probes AS (SELECT cell, vec_id AS query_id, embedding AS e_s
               FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries)"""
    }
    s"""WITH cents(cell, cv) AS (VALUES $centRows),
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        ${rotCtes}nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nv v, cents c),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM $encSrc,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        acodes AS (SELECT a.cell, c.* FROM codes c
                   JOIN (SELECT vec_id, cell FROM ranked WHERE crnk = 1) a
                     ON a.vec_id = c.vec_id),
        $probesCte,
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM probes p, acodes n, cbl
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** Oracle for [[annPq]]: inlines the codebooks the engine
    * deterministically trains on the verify SF (the
    * [[ivfTrainedOracle]] stance — training is covered by the
    * determinism property spec; encode, ADC, and rank are replayed
    * EXACTLY downstream of the model). */
  def pqTrainedOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    pqOracleFor(trainPqCodebooks(vectors(spark, sfDir)), nQueries, k)
  }

  /** DuckDB replay for a GIVEN codebook set: per-sub-space code
    * assignment via a ranked 16-way expansion (dot DESC, code ASC —
    * [[graft.functions.NearestCells]]' exact tie-break), ADC summed in
    * the same fixed sub-space order. */
  private def pqOracleFor(cbs: Array[Array[Array[Double]]],
                          nQueries: Int, k: Int): String = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    // bias inlined as the SAME Scala-computed double the kernel adds,
    // so `dot + bias` is bit-identical in both engines
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"q.embedding[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM embeddings,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM embeddings q, codes n, cbl
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${8 * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** R·x as a column: one codegen'd dot per output dimension over the
    * broadcast rotation rows — map-only, like every encode step in the
    * PQ family. Output is `array<double>` (the trainers' and ADC's
    * encoding-space type). */
  private[graft] def rotCol(r: Array[Array[Double]], x: Column): Column =
    array(r.map(row => dot(x, typedLit(row.toSeq))): _*)

  /** [[rotCol]] over a (vec_id, embedding) frame. */
  private def rotatedFrame(v: DataFrame,
                           r: Array[Array[Double]]): DataFrame =
    v.select(col("vec_id"), rotCol(r, col("embedding")).as("embedding"))

  /** OPQ rotation training (Ge et al., CVPR 2013 §4 — the
    * non-parametric alternation): starting from R = I, repeat
    * { train PQ codebooks on R·x; fix the codes and solve the
    * orthogonal Procrustes problem min_R ||R·X − Y||_F over the
    * reconstructions Y }, then train final codebooks under the final
    * R. The Procrustes solve is SVD(Σ x·yᵀ) = UΣVᵀ → R = V·Uᵀ, a
    * d×d driver-side problem (model state, never data); the cross
    * matrix is one distributed treeAggregate pass over (original,
    * reconstruction) pairs. Every aggregate is rounded to 1e-6 (the
    * [[trainCentroids]] determinism stance) so the trained R is
    * reproducible bit-for-bit and can be inlined by the oracle. */
  private[graft] def trainOpqRotation(v: DataFrame, m: Int = 8,
                                      k: Int = 16, sub: Int = 8,
                                      iters: Int = 2)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
      memoModel(v, s"opq|$m|$k|$sub|$iters") {
    val d = m * sub
    var r: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val cbs = trainPqCodebooks(rotatedFrame(v, r), m, k, sub)
      // reconstruction of R·x under the current codebooks: encode the
      // rotated vector, concatenate the selected codewords
      val rotCol = array(r.map(row => dot(col("embedding"),
        typedLit(row.toSeq))): _*)
      val coded = v
        .select(col("embedding").cast("array<double>").as("x"),
          rotCol.as("re"))
        .select(col("x") +: pqCodeCols(cbs, "re"): _*)
      val xy = coded.select(col("x"),
        flatten(array((0 until m).map(mi =>
          element_at(typedLit(cbs(mi).map(_.toSeq).toSeq),
            col(s"c$mi") + 1)): _*)).as("y"))
      // M = Σ x·yᵀ — d² doubles of model state off one corpus pass
      val flat = xy.select(col("x"), col("y")).rdd
        .treeAggregate(new Array[Double](d * d))(
          (acc, row) => {
            val x = row.getSeq[Double](0)
            val y = row.getSeq[Double](1)
            var i = 0
            while (i < d) {
              val xi = x(i); var j = 0
              while (j < d) { acc(i * d + j) += xi * y(j); j += 1 }
              i += 1
            }
            acc
          },
          (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        .map(x => math.rint(x * 1e6) / 1e6)
      // maximize tr(R·M): M = UΣVᵀ → R = V·Uᵀ (orthogonal Procrustes)
      // (the DenseMatrix ctor is column-major; flat is row-major → .t)
      val mMat = new breeze.linalg.DenseMatrix(d, d, flat).t.copy
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mMat)
      val rNew = vt.t * u.t
      r = Array.tabulate(d, d)((i, j) =>
        math.rint(rNew(i, j) * 1e6) / 1e6)
    }
    (r, trainPqCodebooks(rotatedFrame(v, r), m, k, sub))
  }

  /** §2 #232 — OPTIMIZED PRODUCT QUANTIZATION ANN (Ge et al., CVPR
    * 2013): [[annPq]] with a trained orthogonal rotation applied
    * before the sub-space split — the remaining public-knowledge rung
    * of the PQ ladder (PQ → IVFADC → residual → OPQ). The rotation
    * redistributes variance across sub-spaces so the same 8×4-bit
    * code budget loses less; serving cost is IDENTICAL to raw PQ
    * (rotating a query is one d×d mat-vec over broadcast model state,
    * then the same compressed ADC scan), so the recall delta in
    * [[annRecallEvalPq]]'s `ann_pq_opq` row is the whole price
    * question. Stage 1 ranks ADC in rotated space; stage 2 exact-
    * reranks in the ORIGINAL space (rotation preserves cosine). */
  def annPqOpq(spark: SparkSession, sfDir: String,
               nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (r, cbs) = withTrainCache(v)(trainOpqRotation(_))
    annPqOpqWith(v, r, cbs, nQueries, k)
  }

  private def annPqOpqWith(v: DataFrame, r: Array[Array[Double]],
                           cbs: Array[Array[Array[Double]]],
                           nQueries: Int, k: Int,
                           shortlistFactor: Int = 8): DataFrame =
    shortlistRerank(pqAdcScored(rotatedFrame(v, r), cbs, nQueries), v,
      nQueries, k, shortlistFactor)

  /** DuckDB oracle for [[annPqOpq]]: the trained rotation AND
    * codebooks inlined; the rotation replayed as one dot per output
    * dimension (`list(d ORDER BY j)` — the engine's array(dot…)
    * component-for-component), then the [[pqOracleFor]] replay over
    * the rotated frame with the exact re-rank on the ORIGINAL
    * embeddings. */
  def opqTrainedOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val (r, cbs) = withTrainCache(vectors(spark, sfDir))(
      trainOpqRotation(_))
    opqOracleFor(r, cbs, nQueries, k)
  }

  private[graft] def opqRotCte(r: Array[Array[Double]],
                               src: String = "embeddings"): String = {
    val rRows = r.zipWithIndex.map { case (row, j) =>
      s"($j, ${row.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""rr(j, rv) AS (VALUES $rRows),
        rot AS (SELECT vec_id, list(rd ORDER BY j) AS embedding FROM (
            SELECT e.vec_id, r.j, ${dotSql("e.embedding", "r.rv")} AS rd
            FROM $src e, rr r) GROUP BY vec_id)"""
  }

  private def opqOracleFor(r: Array[Array[Double]],
                           cbs: Array[Array[Array[Double]]],
                           nQueries: Int, k: Int): String = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val cbRows = (for {
      m <- 0 until nSub
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${cbs(m)(kk).mkString("[", ", ", "]")}, " +
      s"${l2Biases(cbs(m))(kk)})")
      .mkString(", ")
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"q.embedding[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    val cbLit = cbs.map(_.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH ${opqRotCte(r)},
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM rot,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias) DESC,
                          cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM rot q, codes n, cbl
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${8 * k})
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT s.query_id, s.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              s.neighbor_id) AS INTEGER) AS rnk
          FROM short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** §2 #27 — LSH-bucketed ANN: 16 sign bits → 8 bands × 2 bits; a
    * candidate is scored only if it shares ≥1 band with the query.
    * Band width trades candidate count against recall: the synthetic
    * embeddings are near-uniform (LSH's worst case), so bands are short;
    * clustered production embeddings would use wider bands for a larger
    * candidate-set reduction at the same recall.
    * Approximate (weak oracle) — SimilaritySpec asserts recall vs the
    * brute-force baseline. */
  def annLsh(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5): DataFrame = {
    val planes = hyperplanes(16, 64)
    val bitCols: Seq[Column] = planes.map { h =>
      val lits = array(h.map(lit): _*)
      when(dot(col("embedding"), lits) > 0, "1").otherwise("0")
    }
    val v = vectors(spark, sfDir)
    // candidate generation moves (band_key, id) pairs ONLY — the band
    // join and the pair-distinct exchange never carry embeddings (at
    // 100 TB the 64-float payload is ~30× the id, so this is the
    // difference between shuffling ids and shuffling the corpus)
    val banded = v.withColumn("bits", concat(bitCols: _*))
      .select(col("vec_id"),
        explode(expr(
          """transform(sequence(0, 7), b ->
               concat(b, ':', substring(bits, b*2 + 1, 2)))""")).as("band_key"))
    val qIds = banded.filter(col("vec_id") < nQueries)
      .select(col("band_key"), col("vec_id").as("query_id"))
    val cIds = banded.select(col("band_key"), col("vec_id").as("neighbor_id"))
    val pairIds = qIds.join(cIds, Seq("band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")

    // embeddings re-join AFTER the distinct: query side broadcast (tiny),
    // candidate side one hash join on the already-deduped pairs
    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val cv = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    rankTopK(
      pairIds
        .join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          exactCos.as("cos")),
      k)
  }

  /** §2 #203 — BINARY SIGN-SKETCH ANN serve: 63-bit sign codes (bit i
    * = embedding[i] > 0, dims 0..62 so the code stays clear of the
    * BIGINT sign bit in BOTH engines) → Hamming top-m pre-filter over
    * CODES ONLY → exact-cosine rerank of the m survivors. This is the
    * production "binary codes in RAM, floats on disk" pattern: at
    * 100 TB the 8-byte code column is ~32× smaller than the float
    * vectors, the pre-filter scans codes map-only (queries broadcast,
    * bounded TopK — at most m rows per (query, partition) move), and
    * the float fetch pays only m·nQueries rows. Spark-first: the code
    * packing is one codegen'd `aggregate` over the array, Hamming is
    * xor + bit_count, both stages end in the bounded
    * [[graft.functions.TopKByScore]] aggregate — no window over the
    * corpus, no full-size shuffle anywhere. */
  def annSignSketch(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, m: Int = 50, k: Int = 5)
      : DataFrame = {
    val coded = vectors(spark, sfDir).withColumn("code", expr(
      """aggregate(sequence(0, 62), CAST(0 AS BIGINT),
           (acc, i) -> acc + IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT),
                                shiftleft(CAST(1 AS BIGINT), i),
                                CAST(0 AS BIGINT)))"""))
    // stage 1: Hamming top-m over the 8-byte codes — the embeddings are
    // NOT in this stage's plan at all (the pre-filter's entire point)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("code_q"))
    val c = coded.select(col("vec_id").as("neighbor_id"),
      col("code").as("code_c"))
    val topM = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        // TopKByScore ranks (score DESC, id ASC); negated Hamming makes
        // that (hamming ASC, id ASC) — the oracle's row_number order
        expr("CAST(-bit_count(code_q ^ code_c) AS DOUBLE)").as("cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topkByScore(
        col("neighbor_id"), col("cos"), m).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"))
    // stage 2: exact-cosine rerank of the m·nQueries survivors — the
    // only rows whose float vectors are ever fetched
    val v = vectors(spark, sfDir)
    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val cv = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    rankTopK(
      topM.join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          exactCos.as("cos")),
      k)
  }

  /** DuckDB oracle for [[annSignSketch]]: the 63-bit packing, the
    * Hamming top-m (row_number over (hamming, neighbor_id) — the exact
    * TopKByScore order), and the cosine rerank all replay in SQL. */
  def signSketchOracle(nQueries: Int = 10, m: Int = 50,
                       k: Int = 5): String = {
    s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
        b AS (SELECT vec_id, embedding, nrm,
          CAST(list_sum([CASE WHEN embedding[i + 1] > 0
                              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                         for i in range(63)]) AS BIGINT) AS code
          FROM n),
        topm AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY bit_count(xor(q.code, c.code)), c.vec_id) AS rm
            FROM b q JOIN b c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rm <= $m)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT t.query_id, t.neighbor_id,
            ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) AS cos,
            CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY
              ${dotSql("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm) DESC,
              t.neighbor_id) AS INTEGER) AS rnk
          FROM topm t
          JOIN b qv ON qv.vec_id = t.query_id
          JOIN b cv ON cv.vec_id = t.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** §2 #76 — embedding QUANTIZATION (int8, per-vector max-abs scale):
    * the compression step an ANN index at 100 TB actually stores —
    * 4 bytes/dim float32 → 1 byte/dim int8 + one scale. Output per
    * vector: the scale, an exact integer checksum of the quantized
    * codes (position-weighted, so any code or permutation change
    * surfaces), and the max reconstruction error.
    *
    * Map-only — zero exchanges (spec-asserted). The arithmetic is the
    * repo's standard cross-engine contract: per-element double casts,
    * left folds, round-half-away — DuckDB reproduces every cell
    * bit-exactly. Reconstruction error is bounded by maxabs/254 by
    * construction (|x·s| ≤ 127 means rounding is the only loss), which
    * the spec asserts row by row. */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame =
    quantizeFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core: quantize ANY (vec_id, embedding ARRAY<FLOAT>) frame.
    * One fused codegen'd kernel per row ([[graft.functions.QuantizeI8]])
    * — the composed aggregate/zip_with/transform form was an
    * interpreter wall on a full-corpus map (CodegenSpec pins this). */
  def quantizeFrom(embs: DataFrame): DataFrame =
    embs
      .select(col("vec_id"),
        graft.functions.QuantizeI8.quantize(col("embedding")).as("qz"))
      .select(col("vec_id"),
        round(col("qz.scale"), 4).as("scale4"),
        col("qz.checksum").as("checksum"),
        round(col("qz.max_err"), 6).as("max_err6"),
        round(col("qz.maxabs"), 6).as("maxabs6"))
      .orderBy("vec_id")

  /** §2 #121 — QUANTIZATION distortion evaluation: corpus-level cosine
    * distortion of int8 storage (1 - cos(x, dequant(x)) per vector,
    * then count/max/mean) — the third leg of the engine's eval family
    * (dedup_eval, ann_recall_eval): it answers "is int8 safe for THIS
    * corpus" with one number, before 4x-compressing 100 TB of vectors.
    *
    * Map-only fused kernel ([[graft.functions.QuantizeDistortion]]) +
    * ONE aggregate. Per-vector distortion is rounded to 8 dp and the
    * mean is decimal-summed, so the corpus aggregate is independent of
    * row order and partitioning. */
  def quantizeEval(spark: SparkSession, sfDir: String): DataFrame =
    quantizeEvalFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core over ANY (vec_id, embedding) frame. */
  def quantizeEvalFrom(embs: DataFrame): DataFrame =
    embs
      .select(round(
        graft.functions.QuantizeI8.distortion(col("embedding")), 8).as("d8"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("d8")).as("max_dist8"),
        sum(col("d8").cast("decimal(38,8)")).as("sum_dist8"))
      .select(col("n_vecs"), col("max_dist8"),
        round(col("sum_dist8").cast("double") / col("n_vecs"), 8)
          .as("mean_dist8"))

  /** §2 #164 — EMBEDDING CLASS STATISTICS: per-label centroid norm and
    * the min/max cosine of members to their centroid — the embedding-QA
    * table a pipeline reads before trusting labels for blocking
    * (embedding_dedup) or supervision (label_spread): a tight class has
    * high centroid norm (unit vectors agreeing) and a high cosine
    * floor; centroid_norm ≈ 0 means the label carries no geometry.
    *
    * Scale shape: centroid via posexplode → (label, pos) partial-agg
    * (shuffle bounded by |labels|·dim, NOT by corpus), centroids
    * broadcast back (model state), min/max via one hash agg. Centroid
    * components are quantized to 1e-6 BEFORE use (the IVF-centroid
    * doctrine) so every downstream number is a left-fold over identical
    * doubles in both engines. */
  def embeddingClassStats(spark: SparkSession, sfDir: String): DataFrame =
    embeddingClassStatsFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Per-label 1e-6-quantized centroid + its norm (the IVF-centroid
    * doctrine) — shared by [[embeddingClassStatsFrom]] and
    * [[embeddingOutliersFrom]]. Shuffle bounded by |labels|·dim. */
  private[graft] def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v")), 6).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
      .select(col("label"), col("centroid"),
        l2norm(col("centroid")).as("cn"))

  /** Generic core over ANY (vec_id, embedding, label) frame. */
  def embeddingClassStatsFrom(e: DataFrame): DataFrame = {
    val cents = labelCentroids(e)
    e.join(broadcast(cents), "label")
      .select(col("label"), col("cn"),
        (dot(col("embedding"), col("centroid"))
          / (l2norm(col("embedding")) * col("cn"))).as("cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(first(col("cn")), 4).as("centroid_norm"),
        round(min(col("cos")), 4).as("min_cos"),
        round(max(col("cos")), 4).as("max_cos"))
      .orderBy("label")
  }

  /** §2 #200 — EMBEDDING OUTLIERS: per label, Tukey-fence outlier count
    * over member-to-centroid cosines — the row-level complement of
    * #164's min/max: class stats say how tight a label is; this says
    * HOW MANY members sit outside the label's own distribution (the
    * mislabeled/noisy-vector review queue a pipeline drains before
    * trusting labels for blocking or supervision). Cosines are
    * quantized to 1e-4 integers and fences computed with
    * percentile_disc + doubled-integer comparisons — the #98 doctrine,
    * so borderline flags can never flip between engines.
    *
    * Scale shape: centroids are |labels|·dim bounded model state
    * (broadcast); the per-label fence table is a tiny percentile agg
    * (broadcast back); the outlier count is one scan-side hash agg —
    * no window over members, no collect. */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame =
    embeddingOutliersFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core over ANY (vec_id, embedding, label) frame. */
  def embeddingOutliersFrom(e: DataFrame): DataFrame = {
    val cents = labelCentroids(e)
    val scored = e.join(broadcast(cents), "label")
      .select(col("label"),
        round(dot(col("embedding"), col("centroid"))
          / (l2norm(col("embedding")) * col("cn")) * 10000)
          .cast("long").as("c4"))
    val fences = scored.groupBy("label").agg(
      expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c4) AS BIGINT)")
        .as("q1_c4"),
      expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c4) AS BIGINT)")
        .as("q3_c4"))
      .withColumn("iqr", col("q3_c4") - col("q1_c4"))
    // 2·c < 2·q1 − 3·iqr ⇔ c < q1 − 1.5·iqr, in pure integers (#98)
    val isOut = col("c4") * 2 < col("q1_c4") * 2 - col("iqr") * 3 ||
      col("c4") * 2 > col("q3_c4") * 2 + col("iqr") * 3
    scored.join(broadcast(fences), "label")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("q1_c4").as("q1_c4"), min("q3_c4").as("q3_c4"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(isOut, col("c4"))).as("min_out_c4"))
      .orderBy("label")
  }

  /** DuckDB oracle for [[embeddingOutliers]]: the #164 cosine CTEs +
    * quantile_disc fences with the same doubled-integer comparisons. */
  val embeddingOutliersOracle: String =
    """WITH dims AS (
         SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos
         FROM embeddings),
       cent AS (
         SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
         FROM dims GROUP BY label, pos),
       cvec AS (
         SELECT label, list(m ORDER BY pos) AS centroid,
           sqrt(list_reduce(list_transform(list_zip(list(m ORDER BY pos),
             list(m ORDER BY pos)), x -> CAST(x[1] AS DOUBLE)
               * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)) AS cn
         FROM cent GROUP BY label),
       scored AS (
         SELECT e.label,
           CAST(round(list_reduce(list_transform(
               list_zip(e.embedding, c.centroid),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
               (p, q) -> p + q)
             / (sqrt(list_reduce(list_transform(list_zip(e.embedding,
                 e.embedding), x -> CAST(x[1] AS DOUBLE)
                   * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)) * c.cn)
             * 10000) AS BIGINT) AS c4
         FROM embeddings e JOIN cvec c USING (label)),
       f AS (SELECT label,
           CAST(quantile_disc(c4, 0.25) AS BIGINT) AS q1_c4,
           CAST(quantile_disc(c4, 0.75) AS BIGINT) AS q3_c4
         FROM scored GROUP BY label)
       SELECT scored.label, count(*) AS n_vecs,
         min(q1_c4) AS q1_c4, min(q3_c4) AS q3_c4,
         CAST(sum(CASE WHEN c4*2 < q1_c4*2 - (q3_c4-q1_c4)*3
                    OR c4*2 > q3_c4*2 + (q3_c4-q1_c4)*3
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         min(CASE WHEN c4*2 < q1_c4*2 - (q3_c4-q1_c4)*3
                    OR c4*2 > q3_c4*2 + (q3_c4-q1_c4)*3
                  THEN c4 END) AS min_out_c4
       FROM scored JOIN f ON scored.label = f.label
       GROUP BY scored.label ORDER BY scored.label"""

  /** DuckDB oracle for [[embeddingClassStats]]: same 1e-6 centroid
    * quantization, same left-fold dot ([[graft.functions.DotProduct]]'s
    * cross-engine contract), min/max over bit-identical cosines. */
  val embeddingClassStatsOracle: String =
    """WITH dims AS (
         SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos
         FROM embeddings),
       cent AS (
         SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
         FROM dims GROUP BY label, pos),
       cvec AS (
         SELECT label, list(m ORDER BY pos) AS centroid,
           sqrt(list_reduce(list_transform(list_zip(list(m ORDER BY pos),
             list(m ORDER BY pos)), x -> CAST(x[1] AS DOUBLE)
               * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)) AS cn
         FROM cent GROUP BY label),
       scored AS (
         SELECT e.label, c.cn,
           list_reduce(list_transform(list_zip(e.embedding, c.centroid),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
             (p, q) -> p + q)
           / (sqrt(list_reduce(list_transform(list_zip(e.embedding,
               e.embedding), x -> CAST(x[1] AS DOUBLE)
                 * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)) * c.cn) AS cos
         FROM embeddings e JOIN cvec c USING (label))
       SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
              round(any_value(cn), 4) AS centroid_norm,
              round(min(cos), 4) AS min_cos,
              round(max(cos), 4) AS max_cos
       FROM scored GROUP BY label ORDER BY label"""

  /** Power-iteration training of the TOP PRINCIPAL COMPONENT: μ is the
    * 1e-6-quantized per-dim mean (the centroid doctrine), then `iters`
    * rounds of w ← Σ_x (x−μ)((x−μ)·v), normalize, re-quantize to 1e-6.
    * Each round is ONE aggregate pass collecting a d-vector — bounded
    * model state like every trainer here. Sign pinned to the first
    * significant loading so the eigenvector's inherent ± ambiguity
    * can't flip between runs. */
  private[graft] def trainPc1(v: DataFrame,
                              iters: Int = 5): (Array[Double], Array[Double]) =
      memoModel(v, s"pc1|$iters") {
    val mu = v.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg(col("x")), 6).as("m"))
      .orderBy("pos").collect().map(_.getDouble(1))
    val d = mu.length
    val muArr = array(mu.map(lit): _*)
    var pc = Array.fill(d)(1.0 / math.sqrt(d))
    (1 to iters).foreach { _ =>
      val pcArr = array(pc.map(lit): _*)
      val w = v
        .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
        .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
        .select(posexplode(col("diff")).as(Seq("pos", "dx")), col("s"))
        .groupBy("pos").agg(sum(col("dx") * col("s")).as("w"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n > 0.0) {
        val sgn = w.find(math.abs(_) > 1e-12).map(math.signum).getOrElse(1.0)
        pc = w.map(x => math.rint(x / n * sgn * 1e6) / 1e6)
      }
    }
    (mu, pc)
  }

  /** Generic core: PCA REPORT over ANY (embedding) frame — per
    * dimension the mean, variance, and top-principal-component loading,
    * plus the share of total variance that component explains (the
    * embedding-QA number behind "all-but-the-top" whitening, Mu 2018:
    * a dominant common direction means the embeddings carry a corpus-
    * wide bias worth projecting out before cosine retrieval).
    *
    * Scale shape: training is `iters` bounded aggregate passes (model
    * state = two d-vectors on the driver); the report itself is one
    * map-only diff/score pass + a (pos)-keyed hash agg + two 1-row
    * aggregates broadcast back. Variance and λ numerators are 8-dp
    * decimal sums — order-independent, digit-equal in the oracle. */
  def embeddingPcaFrom(v: DataFrame, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mu, pc) = withTrainCache(v.select(col("embedding")))(trainPc1(_, iters))
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    val scored = v
      .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
    val lam = scored.agg(
      sum(round(col("s") * col("s"), 8).cast(DecimalType(28, 8))).as("ss"))
    val pv = scored.select(posexplode(col("diff")).as(Seq("pos", "dx")))
      .groupBy("pos")
      .agg(sum(round(col("dx") * col("dx"), 8).cast(DecimalType(28, 8)))
        .as("vv"), count(lit(1)).as("cnt"))
    val tv = pv.agg(sum(col("vv")).as("tv"))
    pv.crossJoin(broadcast(lam)).crossJoin(broadcast(tv))
      .select(col("pos"),
        element_at(muArr, (col("pos") + 1).cast("int")).as("mu6"),
        element_at(pcArr, (col("pos") + 1).cast("int")).as("loading6"),
        round(col("vv").cast("double") / col("cnt"), 6).as("var6"),
        round(col("ss").cast("double") / col("tv").cast("double"), 6)
          .as("ev_share6"))
      .orderBy("pos")
  }

  /** §2 #180 — PCA report of the embeddings table. */
  def embeddingPca(spark: SparkSession, sfDir: String,
                   iters: Int = 5): DataFrame =
    embeddingPcaFrom(Tables.load(spark, sfDir, "embeddings"), iters)

  /** Train the whitening model (μ + top principal component) over ANY
    * (embedding) frame — [[trainPc1]] exposed for the facade. */
  def trainWhitening(v: DataFrame,
                     iters: Int = 5): (Array[Double], Array[Double]) =
    withTrainCache(v.select(col("embedding")))(trainPc1(_, iters))

  /** The all-but-the-top TRANSFORM for pipeline use: μ-center ANY
    * (vec_id, embedding) frame and remove the top component —
    * `w = (x − μ) − ((x − μ)·pc)·pc`, map-only over broadcast model
    * state (two d-vectors). Output embeddings are `array<double>` in
    * the whitened space, ready for any cosine consumer. */
  def whitenVectors(v: DataFrame, mu: Array[Double],
                    pc: Array[Double]): DataFrame = {
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    v.select(col("vec_id"),
        zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
      .select(col("vec_id"),
        zip_with(col("diff"), pcArr, (d, p) => d - col("s") * p)
          .as("embedding"))
  }

  /** Generic core: ALL-BUT-THE-TOP WHITENING REPORT (Mu et al., ICLR
    * 2018) over ANY (embedding) frame — the measured answer to "is the
    * dominant common direction worth projecting out before cosine
    * retrieval": one row comparing the corpus BEFORE vs AFTER removing
    * μ and the top principal component — the mean |cos| to that
    * component (the anisotropy the paper targets; after ≈ 0 up to the
    * component's 1e-6 quantization), its explained-variance share
    * (after ≈ 0), and the total variance (after = before − λ, the
    * removed direction's mass). The #180 report DESCRIBES the bias;
    * this prices removing it, and [[whitenVectors]] is the transform a
    * pipeline then applies.
    *
    * Determinism: all means/shares are decimal sums of 8-dp-rounded
    * per-row terms over exact left-fold dots (the embeddingPca
    * arithmetic), μ/pc are 1e-6-quantized trained literals — every
    * double digit-equal in the oracle.
    *
    * Scale shape: training = `iters` bounded aggregate passes; the
    * report = ONE map-only diff/project pass + a 1-row aggregate; the
    * transform itself is map-only. Nothing corpus-sized moves. */
  def embeddingWhitenFrom(v: DataFrame, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mu, pc) = trainWhitening(v, iters)
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    // ‖pc‖ as a driver-side literal (pc is 1e-6-quantized, so its norm
    // is ~1 but not exactly 1 — the cosine uses the exact norm)
    val pcN = math.sqrt(pc.map(x => x * x).sum)
    def dec(c: Column) = round(c, 8).cast(DecimalType(28, 8))
    val scored = v
      .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s",
        graft.functions.VectorFunctions.dot(col("diff"), pcArr))
      .withColumn("w",
        zip_with(col("diff"), pcArr, (d, p) => d - col("s") * p))
      .withColumn("s2",
        graft.functions.VectorFunctions.dot(col("w"), pcArr))
      .withColumn("nd2",
        graft.functions.VectorFunctions.dot(col("diff"), col("diff")))
      .withColumn("nw2",
        graft.functions.VectorFunctions.dot(col("w"), col("w")))
      .withColumn("cos_b",
        when(col("nd2") > 0, abs(col("s")) / (sqrt(col("nd2")) * lit(pcN)))
          .otherwise(lit(0.0)))
      .withColumn("cos_a",
        when(col("nw2") > 0, abs(col("s2")) / (sqrt(col("nw2")) * lit(pcN)))
          .otherwise(lit(0.0)))
    scored.agg(
      count(lit(1)).as("n_vecs"),
      sum(dec(col("cos_b"))).as("cb"), sum(dec(col("cos_a"))).as("ca"),
      sum(dec(col("s") * col("s"))).as("ssb"),
      sum(dec(col("s2") * col("s2"))).as("ssa"),
      sum(dec(col("nd2"))).as("tvb"), sum(dec(col("nw2"))).as("tva"))
      .select(col("n_vecs"),
        round(col("cb").cast("double") / col("n_vecs"), 4)
          .as("mean_abs_cos_before4"),
        round(col("ca").cast("double") / col("n_vecs"), 4)
          .as("mean_abs_cos_after4"),
        round(col("ssb").cast("double") / col("tvb").cast("double"), 6)
          .as("ev_share_before6"),
        round(col("ssa").cast("double") / col("tva").cast("double"), 6)
          .as("ev_share_after6"),
        round(col("tvb").cast("double") / col("n_vecs"), 6)
          .as("var_total_before6"),
        round(col("tva").cast("double") / col("n_vecs"), 6)
          .as("var_total_after6"))
  }

  /** §2 #247 — whitening report of the embeddings table. */
  def embeddingWhiten(spark: SparkSession, sfDir: String,
                      iters: Int = 5): DataFrame =
    embeddingWhitenFrom(Tables.load(spark, sfDir, "embeddings"), iters)

  /** DuckDB oracle for [[embeddingWhiten]]: μ/pc/‖pc‖ inlined as
    * trained literals, the projection and every decimal sum replayed
    * with identical arithmetic. */
  def embeddingWhitenOracle(iters: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val (mu, pc) = trainPc1(
      graft.Tables.load(spark, sfDir, "embeddings").select(col("embedding")),
      iters)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    val pcN = math.sqrt(pc.map(x => x * x).sum)
    s"""WITH diff AS (SELECT list_transform(list_zip(embedding, $muL),
            x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        sc AS (SELECT diff, ${dotSql("diff", pcL)} AS s FROM diff),
        ww AS (SELECT diff, s,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE)) AS w
          FROM sc),
        m AS (SELECT s, ${dotSql("w", pcL)} AS s2,
            ${dotSql("diff", "diff")} AS nd2, ${dotSql("w", "w")} AS nw2
          FROM ww),
        cc AS (SELECT s, s2, nd2, nw2,
            CASE WHEN nd2 > 0 THEN abs(s) / (sqrt(nd2) * $pcN)
                 ELSE 0.0 END AS cos_b,
            CASE WHEN nw2 > 0 THEN abs(s2) / (sqrt(nw2) * $pcN)
                 ELSE 0.0 END AS cos_a
          FROM m)
       SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         round(CAST(sum(CAST(round(cos_b, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 4) AS mean_abs_cos_before4,
         round(CAST(sum(CAST(round(cos_a, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 4) AS mean_abs_cos_after4,
         round(CAST(sum(CAST(round(s*s, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / CAST(sum(CAST(round(nd2, 8) AS DECIMAL(28,8))) AS DOUBLE),
               6) AS ev_share_before6,
         round(CAST(sum(CAST(round(s2*s2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / CAST(sum(CAST(round(nw2, 8) AS DECIMAL(28,8))) AS DOUBLE),
               6) AS ev_share_after6,
         round(CAST(sum(CAST(round(nd2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 6) AS var_total_before6,
         round(CAST(sum(CAST(round(nw2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 6) AS var_total_after6
       FROM cc"""
  }

  /** §2 #251 — WHITENED RETRIEVAL RECALL (VERDICT-r18 #3: measure,
    * don't claim): the #226 recall-table stance applied to the
    * all-but-the-top transform — does Mu 2018's anisotropy removal
    * change the neighbor structure on THIS corpus, and does the
    * serving ladder (IVF probe, sq8 scan, OPQ-rotated ADC) still
    * recover its ground truth after the transform? Truth is the EXACT
    * whitened-space brute top-k; rows:
    *  - `brute_raw` — the raw-space brute list scored against the
    *    whitened truth: the overlap IS the measured geometry change
    *    (1.0 = whitening moved nothing; the fixture measures 0.82 at
    *    sf0.01 — the transform is real but modest on this
    *    near-isotropic corpus).
    *  - `ivf_whitened` / `sq8_whitened` / `pq_opq_whitened` — each
    *    serving rung re-trained/re-encoded IN whitened space vs the
    *    whitened truth: the #226 ladder's recall after the transform,
    *    directly comparable to its raw rows (and `pq_opq_whitened`
    *    answers the OPQ-composition question with a number).
    * All trained state (μ/pc, whitened centroids, whitened
    * rotation+codebooks) is deterministic and inlined by the oracle —
    * every stage replayed exactly (the decon_recall_eval stance).
    *
    * Scale shape: the transform is map-only over two broadcast
    * d-vectors; each rung keeps its own proven plan (broadcast probes,
    * bounded TopK, shortlist-equi-join rerank); the eval is priced as
    * an eval — run per corpus version, not per query. */
  def whitenRecallEval(spark: SparkSession, sfDir: String,
                       nQueries: Int = 10, k: Int = 5): DataFrame = {
    val vRaw = vectors(spark, sfDir)
    val (mu, pc) = trainWhitening(vRaw)
    val w = whitenVectors(vRaw.select(col("vec_id"), col("embedding")),
        mu, pc)
      .withColumn("nrm", l2norm(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(w)
    // eager: the two concurrent trainings below (and later the four
    // concurrent rungs) scan this cache — lazy, each concurrent first
    // scan would recompute the whitening lineage (sibling-scan gotcha)
    w.count()
    // OVERLAPPED TRAININGS (r20 opt, guide §2.6): the whitened k-means
    // and the whitened OPQ/PQ training are independent driver loops
    // issuing sequential small jobs — run them as two concurrent job
    // streams so one's scheduling gaps are back-filled by the other.
    // Both are deterministic and read the materialized cache; results
    // are bit-identical to the sequential order.
    val trained = Branches.runConcurrent[AnyRef](Seq(
      () => trainCentroids(w, 16),
      () => trainOpqRotation(w)))
    val centsW = trained(0).asInstanceOf[Array[Array[Double]]]
    val (rW, cbsWO) = trained(1)
      .asInstanceOf[(Array[Array[Double]], Array[Array[Array[Double]]])]
    val wq = w.filter(col("vec_id") < nQueries)
    val key = Seq("query_id", "neighbor_id")
    val truth = rankTopK(candidates(candVecs(w), queryVecs(wq), exactCos), k)
      .select(key.head, key.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    truth.count()
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    // the four rungs are independent 1-row aggregates over persisted
    // shared state — concurrent branch jobs (Branches scaladoc)
    Branches.unionAllConcurrent(Seq(
        one("brute_raw", annBruteforce(spark, sfDir, nQueries, k)),
        one("ivf_whitened", ivfServe(w, wq, centsW, 4, k)),
        one("sq8_whitened", annSq8With(w, nQueries, k)),
        one("pq_opq_whitened", annPqOpqWith(w, rW, cbsWO, nQueries, k))))
      .orderBy("variant")
  }

  /** DuckDB oracle for [[whitenRecallEval]]: μ/pc, the
    * whitened-trained centroids, and the whitened rotation+codebooks
    * inlined as literals; the whitened corpus built by one CTE (the
    * exact [[whitenVectors]] arithmetic) and every rung's stage —
    * argmax assignment, sq8 clamp/round, rotated encode, ADC
    * shortlist, exact whitened-space rerank — replayed off it. */
  def whitenRecallEvalOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val vRaw = vectors(spark, sfDir)
    val (mu, pc) = trainWhitening(vRaw)
    val w = whitenVectors(vRaw.select(col("vec_id"), col("embedding")),
        mu, pc)
      .withColumn("nrm", l2norm(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (centsW, rW, cbsWO) =
      try {
        val c = trainCentroids(w, 16)
        val (r, cb) = trainOpqRotation(w)
        (c, r, cb)
      } finally w.unpersist(blocking = false)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    val centRows = centsW.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    val nSub = cbsWO.length
    val sub = cbsWO.head.head.length
    val (cbRows, cbLit) = pqCbLits(cbsWO)
    val codePivot = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m").mkString(", ")
    val adc = (0 until nSub).map { m =>
      val lo = m * sub + 1
      val hi = (m + 1) * sub
      s"${dotSql(s"q.embedding[$lo:$hi]", s"cbl.cb[${m + 1}][n.c$m + 1]")}"
    }.mkString(" + ")
    def hit(shortCte: String) =
      s"""(SELECT CAST(count(*) AS BIGINT)
            FROM $shortCte s
            JOIN truthw t ON t.query_id = s.query_id
                         AND t.neighbor_id = s.neighbor_id)"""
    def rerank(preCte: String, outCte: String) =
      s"""$outCte AS (SELECT query_id, neighbor_id FROM (
            SELECT s.query_id, s.neighbor_id,
              row_number() OVER (PARTITION BY s.query_id ORDER BY
                ${dotSql("qv.embedding", "cv.embedding")}
                  / (qv.nrm * cv.nrm) DESC, s.neighbor_id) AS rnk
            FROM $preCte s
            JOIN nw qv ON qv.vec_id = s.query_id
            JOIN nw cv ON cv.vec_id = s.neighbor_id)
          WHERE rnk <= $k)"""
    s"""WITH wd AS (SELECT vec_id,
            list_transform(list_zip(embedding, $muL),
              x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        wemb AS (SELECT vec_id,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE))
              AS embedding
          FROM (SELECT vec_id, diff, ${dotSql("diff", pcL)} AS s FROM wd)),
        nw AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM wemb),
        nv AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM embeddings),
        truthw AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                  DESC, c.vec_id) AS rnk
            FROM nw q JOIN nw c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k),
        bruteraw AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                  DESC, c.vec_id) AS rnk
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rnk <= $k),
        cents(cell, cv) AS (VALUES $centRows),
        rankedw AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nw v, cents c),
        assignedw AS (SELECT cell, vec_id AS neighbor_id,
                        embedding AS e_c, nrm AS n_c
                      FROM rankedw WHERE crnk = 1),
        probesw AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                      nrm AS n_q
                    FROM rankedw WHERE crnk <= 4
                      AND vec_id < $nQueries),
        ivfw AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) DESC,
                a.neighbor_id) AS rnk
            FROM probesw p JOIN assignedw a ON p.cell = a.cell
            WHERE p.query_id <> a.neighbor_id)
          WHERE rnk <= $k),
        dqw AS (${sq8DequantCteBodyOver("wemb")}),
        sq8pre AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (${dotSql("q.embedding", "d.d")}
                   / (q.nrm * sqrt(${dotSql("d.d", "d.d")}))) DESC,
                d.vec_id) AS r
            FROM nw q, dqw d
            WHERE q.vec_id < $nQueries AND d.vec_id <> q.vec_id)
          WHERE r <= ${8 * k}),
        ${rerank("sq8pre", "sq8w")},
        ${opqRotCte(rW, "wemb")},
        cb(m, kk, cv, bias) AS (VALUES $cbRows),
        cbl AS (SELECT $cbLit AS cb),
        sub AS (SELECT vec_id, mm.m AS m,
                  embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM rot,
                     (SELECT unnest(range(0, $nSub)) AS m) mm),
        coded AS (SELECT vec_id, m, kk FROM (
                    SELECT sub.vec_id, sub.m, cb.kk,
                      row_number() OVER (PARTITION BY sub.vec_id, sub.m
                        ORDER BY (${dotSql("sub.s", "cb.cv")} + cb.bias)
                          DESC, cb.kk) AS r
                    FROM sub JOIN cb ON cb.m = sub.m)
                  WHERE r = 1),
        codes AS (SELECT vec_id, $codePivot FROM coded GROUP BY 1),
        opqpre AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ($adc) DESC, n.vec_id) AS r
            FROM rot q, codes n, cbl
            WHERE q.vec_id < $nQueries AND n.vec_id <> q.vec_id)
          WHERE r <= ${8 * k}),
        ${rerank("opqpre", "opqw")},
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truthw)
       SELECT variant, n_truth, n_hit,
         round(CAST(n_hit AS DOUBLE) / n_truth, 4) AS recall
       FROM (
         SELECT 'brute_raw' AS variant, nt.n_truth,
           ${hit("bruteraw")} AS n_hit FROM nt
         UNION ALL SELECT 'ivf_whitened', nt.n_truth,
           ${hit("ivfw")} FROM nt
         UNION ALL SELECT 'sq8_whitened', nt.n_truth,
           ${hit("sq8w")} FROM nt
         UNION ALL SELECT 'pq_opq_whitened', nt.n_truth,
           ${hit("opqw")} FROM nt)
       ORDER BY variant"""
  }

  /** DuckDB oracle for [[embeddingPca]]: μ and the trained component
    * inlined as literals (the semanticDedup stance — the same training
    * code runs once per session), variance/λ recomputed FROM DATA with
    * the identical decimal-sum arithmetic. */
  def embeddingPcaOracle(iters: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val (mu, pc) = trainPc1(
      graft.Tables.load(spark, sfDir, "embeddings").select(col("embedding")),
      iters)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    s"""WITH diff AS (SELECT list_transform(list_zip(embedding, $muL),
            x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        scored AS (SELECT diff,
            list_reduce(list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
              (p, q) -> p + q) AS s
          FROM diff),
        lam AS (SELECT sum(CAST(round(s*s, 8) AS DECIMAL(28,8))) AS ss
                FROM scored),
        dims AS (SELECT generate_subscripts(diff, 1) AS pos,
                   unnest(diff) AS dx FROM scored),
        pv AS (SELECT pos, sum(CAST(round(dx*dx, 8) AS DECIMAL(28,8))) AS vv,
                 count(*) AS cnt FROM dims GROUP BY 1),
        tv AS (SELECT sum(vv) AS tv FROM pv)
       SELECT CAST(pos - 1 AS INTEGER) AS pos,
         CAST(($muL)[pos] AS DOUBLE) AS mu6,
         CAST(($pcL)[pos] AS DOUBLE) AS loading6,
         round(CAST(vv AS DOUBLE) / cnt, 6) AS var6,
         round(CAST(ss AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS ev_share6
       FROM pv CROSS JOIN lam CROSS JOIN tv ORDER BY pos"""
  }

  /** The WHITENED INDEX LEG: an IVF artifact whose inverted lists
    * store the corpus AFTER the all-but-the-top transform, with the
    * trained μ/pc persisted as a `whiten/` member behind a `_whiten`
    * root marker — so a pipeline can serve whitened retrieval (the
    * geometry [[whitenRecallEval]] measures) WITHOUT hand-wiring
    * [[whitenVectors]] before every build and query: the artifact
    * carries its own transform, [[annServeWhitenedFromIndex]] applies
    * it to incoming raw queries, and [[ivfWhitenIndexAppend]] to
    * incoming raw deltas (VERDICT-r18 missing #3's serving half).
    *
    * MARKER ORDER deviates from the lands-last doctrine DELIBERATELY:
    * `whiten/` then `_whiten` land BEFORE any index rows, because the
    * marker here guards the GEOMETRY of the rows that follow — with
    * marker-last, a crash after `assigned/` would leave whitened rows
    * behind a raw-looking root that [[annServeFromIndex]] happily
    * serves raw queries against. With marker-first every crash prefix
    * is refused by BOTH paths: no marker + no centroids (only
    * `whiten/` present) refuses raw serving on the missing centroids
    * and whitened serving on the missing marker; marker + no
    * centroids refuses raw serving on the marker
    * ([[annServeFromIndex]]'s requireRawIndex) and whitened serving
    * on the missing centroids.
    *
    * Maintenance contract (v1): whitened serve + whitened append +
    * compaction. Rebuild and the PQ leg refuse
    * (requireRawIndex): a whitened artifact's honest retrain re-fits
    * μ/pc from the raw corpus — [[ivfWhitenIndexToDir]] again — and
    * the PQ serving path scores raw queries by construction.
    *
    * Scale shape: training adds `iters` bounded aggregate passes (two
    * d-vectors of model state); the transform is map-only over those
    * broadcast vectors; everything downstream keeps the raw artifact's
    * proven plan (cell-partitioned lists, broadcast probes, bounded
    * TopK). */
  def ivfWhitenIndexToDir(spark: SparkSession, sfDir: String, dir: String,
                          nCells: Int = 16, iters: Int = 5): Unit =
    ivfWhitenIndexBuild(spark,
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")), dir, nCells, iters)

  /** [[ivfWhitenIndexToDir]] over an explicit (vec_id, embedding) RAW
    * corpus frame: train μ/pc, land `whiten/` + `_whiten` (marker
    * FIRST — see the geometry-guard ordering above), then the standard
    * index build over the whitened rows with centroids trained in
    * whitened space. */
  def ivfWhitenIndexBuild(spark: SparkSession, vecs: DataFrame,
                          dir: String, nCells: Int = 16,
                          iters: Int = 5): Unit = {
    import spark.implicits._
    val raw = vecs.select(col("vec_id"), col("embedding"))
    val (mu, pc) = trainWhitening(raw, iters)
    Seq(("mu", mu.toSeq), ("pc", pc.toSeq)).toDF("kind", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/whiten")
    graft.streaming.StreamIO.writeMarker(dir, "_whiten", 1L,
      spark.sparkContext.hadoopConfiguration)
    val w = whitenVectors(raw, mu, pc)
    val cents = withTrainCache(w)(trainCentroids(_, nCells))
    ivfIndexBuild(spark, w, dir, cents)
  }

  /** The stored whitening model (μ + pc: two d-vectors — model state,
    * never data). Refuses a raw artifact (no `_whiten` marker) and a
    * torn one (`_whiten` = 1 but `whiten/` missing — only manual
    * surgery can produce it given the build order, the
    * [[readPqRotation]] stance). */
  def readWhitenModel(spark: SparkSession,
                      dir: String): (Array[Double], Array[Double]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(graft.streaming.StreamIO.readMarker(dir, "_whiten", conf)
        .contains(1L),
      s"index artifact at $dir carries no _whiten marker — its rows " +
        "are raw-space; serve through annServeFromIndex, or build a " +
        "whitened artifact with ivfWhitenIndexToDir.")
    val (fs, wp) = graft.streaming.StreamIO.fsFor(s"$dir/whiten", conf)
    require(fs.exists(wp),
      s"index artifact at $dir carries _whiten = 1 but whiten/ is " +
        "missing — the unit is torn. Rebuild with ivfWhitenIndexToDir.")
    val rows = spark.read.parquet(s"$dir/whiten").collect()
      .map(r => r.getAs[String]("kind") ->
        r.getAs[Seq[Double]]("v").toArray).toMap
    (rows("mu"), rows("pc"))
  }

  /** Serve RAW (vec_id, embedding) queries from a whitened artifact:
    * the stored μ/pc transform the query batch (map-only over two
    * broadcast d-vectors), then the standard probe/rank body runs in
    * whitened space — the caller never touches the transform. */
  def annServeWhitenedFromIndex(spark: SparkSession, dir: String,
                                queries: DataFrame, nProbe: Int = 4,
                                k: Int = 5): DataFrame = {
    val (mu, pc) = readWhitenModel(spark, dir)
    val (cents, lists) = indexLists(spark, dir, raw = false)
    rankTopK(candidates(lists, probeFrame(
      whitenVectors(queries.select(col("vec_id"), col("embedding")), mu, pc),
      cents, nProbe, l2norm(col("embedding"))), exactCos), k)
  }

  /** Incremental maintenance of the whitened artifact: a RAW delta
    * batch is whitened with the STORED model (the transform is
    * versioned with the index, exactly like the quantizer), assigned
    * with the artifact's own centroids, and appended to the
    * cell-partitioned lists — the [[ivfIndexAppend]] cadence one
    * transform earlier. Map-only over the delta; base partitions
    * untouched. */
  def ivfWhitenIndexAppend(spark: SparkSession, dir: String,
                           vectors: DataFrame): Unit = {
    val (mu, pc) = readWhitenModel(spark, dir)
    val cents = readIvfCentroids(spark, dir)
    assignWithCentroids(
      whitenVectors(vectors.select(col("vec_id"), col("embedding")),
        mu, pc), cents)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/assigned")
  }

  /** §2 #253 — WHITENED IVF SERVING FROM THE ARTIFACT: build the
    * whitened artifact once (μ/pc + whitened-space centroids + whitened
    * inverted lists), then serve the standard RAW query set from it —
    * the serving form of the geometry [[whitenRecallEval]] priced
    * (its `ivf_whitened` rung, 0.86 recall of the whitened truth at
    * sf0.01), with the transform applied BY the artifact instead of
    * hand-wired by the pipeline. */
  def annIvfWhitenedIndexed(spark: SparkSession, sfDir: String,
                            nProbe: Int = 4, nQueries: Int = 10,
                            k: Int = 5): DataFrame =
    serveFreshIndex(spark, sfDir, "ivf-whiten-index", nQueries)(
      ivfWhitenIndexToDir(spark, sfDir, _))(
      annServeWhitenedFromIndex(spark, _, _, nProbe, k))

  /** DuckDB oracle for [[annIvfWhitenedIndexed]]: μ/pc and the
    * whitened-space centroids inlined as trained literals (all
    * deterministic — the [[whitenRecallEvalOracle]] stance); the
    * whitened corpus is one CTE (the exact [[whitenVectors]]
    * arithmetic) and the [[ivfOracleFor]] assignment/probe/rank replay
    * runs off it — queries whitened by the SAME CTE, because a served
    * query is a corpus row transformed with the same stored model. */
  def ivfWhitenedOracle(nProbe: Int = 4, nQueries: Int = 10,
                        k: Int = 5, nCells: Int = 16,
                        iters: Int = 5): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val raw = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (mu, pc) = trainWhitening(raw, iters)
    val w = whitenVectors(raw, mu, pc)
    val cents = withTrainCache(w)(trainCentroids(_, nCells))
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"(${i}, ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH wd AS (SELECT vec_id,
            list_transform(list_zip(embedding, $muL),
              x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        wemb AS (SELECT vec_id,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE))
              AS embedding
          FROM (SELECT vec_id, diff, ${dotSql("diff", pcL)} AS s FROM wd)),
        nw AS (SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS nrm
               FROM wemb),
        cents(cell, cv) AS (VALUES $centRows),
        ranked AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dotSql("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nw v, cents c),
        assigned AS (SELECT cell, vec_id AS neighbor_id, embedding AS e_c,
                       nrm AS n_c FROM ranked WHERE crnk = 1),
        probes AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                     nrm AS n_q
                   FROM ranked WHERE crnk <= $nProbe AND vec_id < $nQueries)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT p.query_id, a.neighbor_id,
            ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) AS cos,
            CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
              ${dotSql("p.e_q", "a.e_c")} / (p.n_q * a.n_c) DESC,
              a.neighbor_id) AS INTEGER) AS rnk
          FROM probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.query_id <> a.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }
}
