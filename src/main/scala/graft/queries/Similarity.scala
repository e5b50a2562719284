package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Index geometry for the ANN family — library parameters, not
  * hardwired constants. The defaults are sized for the test corpus
  * (500–5000 vectors); a real deployment tunes them so bucket / cell
  * occupancy ≈ corpus / 2^planes (resp. corpus / nCentroids) stays
  * within the per-probe rerank budget.
  *
  * @param planes      random hyperplanes → 2^planes LSH buckets
  * @param nProbe      IVF cells searched per probe
  * @param nCentroids  IVF centroid count — seeded by the `nCentroids`
  *                    smallest salted-md5 vec_ids, so the seed set is
  *                    a fixed-size deterministic sample however large
  *                    the corpus grows (a `% stride` seed set would
  *                    make the broadcast centroid table O(corpus))
  */
final case class AnnGeometry(planes: Int = 4, nProbe: Int = 2, nCentroids: Int = 10)

/** Similarity search family (SURVEY.md §2.D) over the embeddings
  * table (64-dim float vectors).
  *
  * a1 is the exact baseline: brute-force cosine top-k with the probe
  * set broadcast (scales as one scan of the corpus per batch of
  * probes). a2/a3/a6 are the 100 TB paths: random-hyperplane LSH
  * buckets and IVF coarse cells bound the candidate set so the corpus
  * is never fully scanned per probe. All share a1's rerank stage.
  * Every builder takes an [[AnnGeometry]]; the `defs` map binds the
  * test defaults.
  */
object Similarity extends QueryPack with IvfPq {

  private[queries] val K = 3                 // neighbors returned
  private[queries] val Geo = AnnGeometry()   // defaults used by defs + oracle
  private[queries] val NProbes = 5           // acceptance-gate probe count
  private[queries] val PqM = 8               // a12: subspaces per vector
  private[queries] val PqSubDim = 8          // a12: dims per subspace (M×subDim = 64)

  /** Deterministic, corpus-size-independent sample: the `k` rows whose
    * salted md5 digest of vec_id sorts smallest. Spark plans the
    * sort+limit as TakeOrderedAndProject — a distributed top-k, no
    * global sort — so selecting probes (or centroid seeds) costs one
    * map-side pass at any corpus size AND the selected set stays
    * exactly `k` rows. The round-6 `vec_id % 100` stride grew the
    * probe set O(corpus), which made every offline acceptance gate
    * (probes × corpus) quietly quadratic. */
  private[graft] def hashTopK(df: DataFrame, salt: String, k: Int): DataFrame =
    df.orderBy(
      md5(concat(lit(salt + "|"), col("vec_id").cast("string")).cast("binary")),
      col("vec_id")).limit(k)

  /** DuckDB mirror of [[hashTopK]] — append to a probe/seed CTE body. */
  private def hashTopKSql(salt: String, k: Int): String =
    s"ORDER BY md5('$salt|' || vec_id::VARCHAR), vec_id LIMIT $k"
  private def probeSel: String = hashTopKSql("probe", NProbes)
  private def centSel(n: Int): String = hashTopKSql("cent", n)

  /** Vectors with their L2 norm precomputed once, map-side — every
    * downstream pair then costs a single codegen'd dot product. The
    * float→double widening is a native array cast (codegen), not an
    * interpreted per-element transform lambda. */
  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))

  /** The acceptance-gate probe set of `v`: its [[hashTopK]] sample as
    * (probe_id, p_emb, p_nrm, p_<extra>…). */
  private[queries] def probesOf(v: DataFrame, extra: String*): DataFrame =
    hashTopK(v, "probe", NProbes).select(
      Seq(col("vec_id").as("probe_id"), col("emb").as("p_emb"), col("nrm").as("p_nrm")) ++
        extra.map(c => col(c).as(s"p_$c")): _*)

  /** Per-dimension values of the embeddings table: (vec_id, dim, x). */
  private def dimsOf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))

  private[queries] def cosPre(pEmb: Column, pNrm: Column, emb: Column, nrm: Column): Column =
    graft.functions.Vec.dot(pEmb, emb) / (pNrm * nrm)

  /** The exact cosine re-rank every kNN leg ends in: each candidate
    * (probe, vector) pair's `cosine`, then the top `k` per
    * (by…, probe_id) by cosine, ties to the smaller vec_id. Every
    * column of `cand` passes through, then (cosine, rank). */
  private def cosineTopK(cand: DataFrame, k: Int, by: String*): DataFrame = {
    val w = Window.partitionBy((by :+ "probe_id").map(col): _*)
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.withColumn("cosine", cosPre(col("p_emb"), col("p_nrm"), col("emb"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** A kNN answer's rows: (probe_id, vec_id, rank, cosine) by probe
    * and rank. */
  private def knnRows(ranked: DataFrame): DataFrame =
    ranked.select(col("probe_id"), col("vec_id"), col("rank"), col("cosine"))
      .orderBy(col("probe_id"), col("rank"))

  /** Routed-cell candidates: every assigned vector in a cell its probe
    * routes to, the probe itself excluded, `also` ANDed into the same
    * broadcast-hash join condition. */
  private def cellCandidates(assigned: DataFrame, probeCells: DataFrame,
                             also: Column*): DataFrame =
    assigned.join(broadcast(probeCells),
      (Seq(assigned("cell") === probeCells("cell"), col("vec_id") =!= col("probe_id")) ++
        also).reduce(_ && _))

  /** recall@k hit counts: every exact (keys…, probe_id, vec_id) row
    * LEFT-joined to the approximate (a_<key>…, a_probe, a_vec) rows,
    * so a probe the index fully misses still reports (n_hit = 0).
    * Returns (keys…, probe_id, n_exact, n_hit). */
  private def hitCounts(exact: DataFrame, approx: DataFrame, keys: String*): DataFrame =
    exact.join(approx,
        (keys.map(k => col(k) === col(s"a_$k")) :+
          (col("probe_id") === col("a_probe")) :+
          (col("vec_id") === col("a_vec"))).reduce(_ && _), "left")
      .groupBy((keys :+ "probe_id").map(col): _*)
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("a_vec").isNotNull, 1L).otherwise(0L)).as("n_hit"))

  /** a1's exact top-k as the (probe_id, vec_id) truth a recall gate
    * scores against. */
  private def exactPairs(s: SparkSession, d: String, k: Int): DataFrame =
    bruteKnn(s, d, k).select(col("probe_id"), col("vec_id"))

  /** Per-probe recall@k report: [[hitCounts]] plus `recall`. */
  private def recallOf(exact: DataFrame, approx: DataFrame): DataFrame =
    hitCounts(exact, approx)
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .orderBy(col("probe_id"))

  /** `a.unionByName(b)` over the `names` columns, both children
    * re-selected in that order under fresh aliases. Two shapes
    * Catalyst forces: (1) a using-join hoists its key column first,
    * and downstream consumers (save/load, positional set ops) rely on
    * the canonical column order; (2) when both children trace to the
    * SAME source attributes (in-memory lineage: the audits, or a DSL
    * user composing build→absorb→rebuild in one plan), a Union whose
    * children share attribute ids dies in constraint rewriting
    * (UnionBase.rewriteConstraints: key not found) — the explicit
    * aliases mint new ids on BOTH children. */
  private[queries] def freshUnion(a: DataFrame, b: DataFrame, names: String*): DataFrame = {
    def fresh(df: DataFrame) = df.select(names.map(n => col(n).as(n)): _*)
    fresh(a).unionByName(fresh(b))
  }

  /** Deterministic pseudo-random hyperplane weights for (plane, dim):
    * md5-derived uniform in [-1, 1). The planes are CONSTANT, so they
    * are materialized driver-side once (same md5-prefix arithmetic as
    * the oracle's SQL formula) and enter the plan as array literals —
    * the per-row transform(sequence(...), md5...) form re-evaluated
    * 64 interpreted digests per row per plane. */
  private def planeWeights(p: Int, dims: Int = 64): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      md.reset()
      val dig = md.digest(s"$p|$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((dig(0) & 0xff) << 8) | (dig(1) & 0xff)
      h.toDouble / 32768.0 - 1.0
    }
  }

  private def planeDot(emb: Column, p: Int, dims: Int = 64): Column =
    graft.functions.Portable.dotD(emb, typedLit(planeWeights(p, dims)))

  /** Sign bucket of the hyperplane projections, one char per plane.
    * `dims` sizes the hyperplanes (65 for a14's augmented space). */
  private def lshBucket(emb: Column, planes: Int, dims: Int = 64): Column =
    concat((0 until planes).map(p => when(planeDot(emb, p, dims) > 0, "1").otherwise("0")): _*)

  /** `bucket` with the (0-indexed) plane bit `i` flipped. */
  private def flipBit(bucket: Column, i: Int, planes: Int): Column = concat(
    substring(bucket, 1, i),
    when(substring(bucket, i + 1, 1) === "1", "0").otherwise("1"),
    substring(bucket, i + 2, planes - i - 1))

  /** Multi-probe LSH's search set: `bucket` and its Hamming-1
    * neighbours, one plane bit flipped each. */
  private def hamming1(bucket: Column, planes: Int): Seq[Column] =
    bucket +: (0 until planes).map(i => flipBit(bucket, i, planes))

  private def planeDotSql(emb: String, p: Int, dims: Int = 64): String =
    s"""list_sum(list_transform(generate_series(1, $dims),
       |    i -> $emb[i] * (('0x' || substring(md5('$p|' || (i-1)::VARCHAR), 1, 4))::BIGINT / 32768.0 - 1.0)))""".stripMargin

  private def lshBucketSql(emb: String, planes: Int, dims: Int = 64): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${planeDotSql(emb, p, dims)} > 0 THEN '1' ELSE '0' END)").mkString("concat(", ", ", ")")

  /** SQL for `bucket` with the given (0-indexed) bits flipped. */
  private def flipSql(positions: Seq[Int], planes: Int): String = {
    val parts = Seq.newBuilder[String]
    var cur = 1
    positions.sorted.foreach { p =>
      if (p + 1 > cur) parts += s"substring(bucket, $cur, ${p + 1 - cur})"
      parts += s"(CASE WHEN substring(bucket, ${p + 1}, 1) = '1' THEN '0' ELSE '1' END)"
      cur = p + 2
    }
    if (cur <= planes) parts += s"substring(bucket, $cur, ${planes - cur + 1})"
    parts.result().mkString(" || ")
  }

  private val CosSql =
    "list_dot_product(p.emb, v.emb) / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(v.emb, v.emb)))"

  /** a1's oracle, shared with a8's exact leg. */
  private lazy val BruteKnnSql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, emb FROM v $probeSel),
       |scored AS (
       |  SELECT p.probe_id, v.vec_id, $CosSql AS cosine,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY $CosSql DESC, v.vec_id) AS rank
       |  FROM p, v WHERE v.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank, cosine
       |FROM scored WHERE rank <= $K
       |ORDER BY probe_id, rank""".stripMargin

  /** a18's oracle, also embedded (as a CTE) in p8's index-card leg. */
  private[graft] lazy val IvfPqServeSql: String = {
      val hi = PqM - 1
      val pSub = s"p.p_emb[c.sub*$PqSubDim+1 : c.sub*$PqSubDim+$PqSubDim]"
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |subs AS (
         |  SELECT vec_id, m AS sub, emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
         |  FROM v, unnest(generate_series(0, $hi)) AS t(m)),
         |cseed AS (SELECT vec_id, emb FROM v ${centSel(Geo.nCentroids)}),
         |cents AS (
         |  SELECT vec_id AS code_id, m AS sub,
         |    emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS cv
         |  FROM cseed, unnest(generate_series(0, $hi)) AS t(m)),
         |codes AS (
         |  SELECT vec_id, sub, code_id FROM (
         |    SELECT s.vec_id, s.sub, c.code_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |          + list_dot_product(c.cv, c.cv),
         |        c.code_id) AS r
         |    FROM subs s JOIN cents c ON s.sub = c.sub) t
         |  WHERE r = 1),
         |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |routes AS (
         |  SELECT probe_id, cell FROM (
         |    SELECT p.probe_id, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, c.c_emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS r
         |    FROM probes p, cs c) t WHERE r <= ${Geo.nProbe}),
         |adc AS (
         |  SELECT p.probe_id, c.sub, c.code_id,
         |    list_dot_product($pSub, $pSub)
         |      - 2.0 * list_dot_product($pSub, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS pdist
         |  FROM probes p, cents c),
         |cand AS (
         |  SELECT r.probe_id, a.vec_id
         |  FROM assigned a JOIN routes r ON a.cell = r.cell
         |  WHERE a.vec_id <> r.probe_id),
         |scored AS (
         |  SELECT cd.probe_id, cd.vec_id, sum(adc.pdist) AS adc_dist
         |  FROM cand cd
         |  JOIN codes k ON cd.vec_id = k.vec_id
         |  JOIN adc ON adc.probe_id = cd.probe_id AND adc.sub = k.sub
         |    AND adc.code_id = k.code_id
         |  GROUP BY cd.probe_id, cd.vec_id)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rank, vec_id,
         |  round(adc_dist, 6) AS adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY adc_dist, vec_id) AS rnk FROM scored) t
         |WHERE rnk <= $K
         |ORDER BY probe_id, rnk""".stripMargin
  }

  /** SQL mirror of [[servedIndexStats]] — a standalone 1-row SELECT
    * (n_cells, recall) reusing the a18 serve and a1 brute oracles as
    * nested CTEs, for p8's corpus-card index rows. */
  private[graft] lazy val ServedIndexStatsSql: String =
    s"""SELECT
       |  (SELECT count(*) FROM (SELECT * FROM
       |     (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) v
       |     ${centSel(Geo.nCentroids)}) t)::BIGINT AS n_cells,
       |  (WITH exact AS ($BruteKnnSql), served AS ($IvfPqServeSql)
       |   SELECT avg(hit_frac) FROM (
       |     SELECT e.probe_id,
       |       sum(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |         / count(*) AS hit_frac
       |     FROM exact e LEFT JOIN served s
       |       ON s.probe_id = e.probe_id AND s.vec_id = e.vec_id
       |     GROUP BY e.probe_id) t) AS recall""".stripMargin

  /** a2's oracle, shared with a8's approximate leg. */
  private lazy val LshKnnSql =
    s"""WITH v AS (
       |  SELECT vec_id, emb, ${lshBucketSql("emb", Geo.planes)} AS bucket
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
       |p AS (SELECT vec_id AS probe_id, emb, bucket FROM v $probeSel),
       |scored AS (
       |  SELECT p.probe_id, v.vec_id, $CosSql AS cosine,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY $CosSql DESC, v.vec_id) AS rank
       |  FROM p JOIN v ON v.bucket = p.bucket AND v.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank, cosine
       |FROM scored WHERE rank <= $K
       |ORDER BY probe_id, rank""".stripMargin


  // ---- public builders (library API; defs bind the defaults) -------

  /** Exact top-k: broadcast the probe set against one corpus scan. */
  def bruteKnn(s: SparkSession, d: String, k: Int = K): DataFrame = {
    val v = vecs(s, d)
    knnRows(cosineTopK(v.join(broadcast(probesOf(v)), col("vec_id") =!= col("probe_id")), k))
  }

  /** LSH: candidates restricted to the probe's sign bucket, then
    * exact rerank. Bucket assignment is one map-side expression. */
  def lshKnn(s: SparkSession, d: String, geo: AnnGeometry = Geo, k: Int = K): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("emb"), geo.planes))
    knnRows(cosineTopK(v.join(broadcast(probesOf(v, "bucket")),
      col("bucket") === col("p_bucket") && col("vec_id") =!= col("probe_id")), k))
  }

  /** Multi-probe LSH: each probe searches its own sign bucket PLUS
    * every Hamming-1 neighbor bucket (flip one plane bit) — the
    * standard recall lever that avoids adding hash tables. Candidate
    * volume grows by ×(planes+1) probed buckets, corpus-side work is
    * unchanged (one bucket per vector, map-side). */
  def multiProbeKnn(s: SparkSession, d: String, geo: AnnGeometry = Geo, k: Int = K): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("emb"), geo.planes))
    val expanded = probesOf(v, "bucket").withColumn("search_bucket",
      explode(array(hamming1(col("p_bucket"), geo.planes): _*)))
    knnRows(cosineTopK(v.join(broadcast(expanded),
      col("bucket") === col("search_bucket") && col("vec_id") =!= col("probe_id")), k))
  }

  /** a23: metadata-FILTERED IVF serve — top-k among vectors sharing
    * the probe's label, the constrained-search shape every production
    * vector store exposes. The filter composes with routing as a join
    * predicate on the ASSIGNED side (label equality evaluated inside
    * the broadcast-hash candidate join, before any scoring), so the
    * candidate set shrinks at the cell scan — the pushdown form.
    * POST-filtering a3's unfiltered top-k would be both wrong and
    * wasteful: with L labels a k-list post-filtered to one label
    * under-fills to ~k/L rows, and every discarded candidate still
    * paid its dot product. Same routed-cells-only candidacy as
    * [[ivfKnn]]; k widened to pass the under-fill the filter causes
    * inside the probed cells honestly through to the output (a probe
    * with fewer same-label vectors in its probed cells returns fewer
    * rows — visible, not padded). */
  def filteredKnn(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                  k: Int = K): DataFrame = {
    val v = vecs(s, d).join(
      Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
    val cents = centroidsOf(v, geo.nCentroids)
    val assigned = assignCells(v, cents)
      .select(col("vec_id"), col("emb"), col("nrm"), col("label"), col("cell"))
    val probeCells = routeProbes(probesOf(v, "label"), cents, geo.nProbe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("p_label"), col("cell"))
    cosineTopK(cellCandidates(assigned, probeCells, col("label") === col("p_label")), k)
      .select(col("probe_id"), col("p_label").cast("int").as("label"),
        col("vec_id"), col("rank"), col("cosine"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** a24: the nProbe TUNING SWEEP — the acceptance table that picks
    * a3/a23's probe width. Serving cost scales with candidates
    * scanned and recall with cells probed; this emits both per level
    * (1..maxProbe) so the operator choosing nProbe reads one table
    * instead of re-running a8 per setting. ONE assignment and one
    * probe-ranking pass serve every level: candidates are joined once
    * against the union of probed cells at the WIDEST level with the
    * cell's probe rank attached, and each level is a filter
    * `crank <= np` over that shared frame — levels are nested, so the
    * sweep costs the same corpus work as a single widest-level query
    * plus a levels-sized explode on the tiny probe-cells side. */
  def nprobeSweep(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                  k: Int = K, maxProbe: Int = 4): DataFrame = {
    val v = vecs(s, d)
    val (cents, assigned) = cellsOf(s, d, v, geo)
    val lv = routeProbes(probesOf(v), cents, maxProbe)
      .withColumn("np", explode(sequence(lit(1), lit(maxProbe))))
      .filter(col("crank") <= col("np"))
      .select(col("np"), col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    levelHits(s, d, cellCandidates(assigned, lv), k, "np", sequence(lit(1), lit(maxProbe)))
      .groupBy(col("np"))
      .agg(count(lit(1)).as("n_probes"),
        round(avg(coalesce(col("n_cand"), lit(0L)).cast("double")), 6).as("avg_scanned"),
        round(avg(col("n_hit").cast("double") / col("n_exact")), 6).as("avg_recall"))
      .select(col("np").cast("long").as("np"), col("n_probes"),
        col("avg_scanned"), col("avg_recall"))
      .orderBy(col("np"))
  }

  /** a24/a26's per-(level, probe) acceptance rows over candidates
    * carrying a `level` column: the level's cosine top-k scored by
    * [[hitCounts]] against a1's exact top-k, which is replicated to
    * every level in the `levels` array, plus the level's candidate
    * count `n_cand` (null where the level routed no candidate). */
  private def levelHits(s: SparkSession, d: String, cand: DataFrame, k: Int,
                        level: String, levels: Column): DataFrame = {
    val approx = cosineTopK(cand, k, level)
      .select(col(level).as(s"a_$level"), col("probe_id").as("a_probe"),
        col("vec_id").as("a_vec"))
    val scanned = cand.groupBy(col(level), col("probe_id"))
      .agg(count(lit(1)).as("n_cand"))
    val exact = exactPairs(s, d, k).withColumn(level, explode(levels))
    hitCounts(exact, approx, level).join(scanned, Seq(level, "probe_id"), "left")
  }

  /** a25: the DECISION step a24's sweep exists to feed — the m20
    * pattern (measure → decide) applied to index tuning: chosen
    * nProbe = the SMALLEST level whose measured recall clears
    * `recallFloor` while its candidate cost stays under the ceiling
    * (`costFrac` × the widest level's scan cost — the region where
    * probing wider stops being cheaper than brute force). When no
    * level clears the floor inside the ceiling, fall back to the
    * best-recall level that fits the ceiling (ties → smallest np).
    * One sweep + two 1-row broadcast aggregates — the decision layer
    * adds nothing to the sweep's scale shape, and the output carries
    * every level with its flags so the choice is auditable, not just
    * announced. */
  def nprobeDecide(s: SparkSession, d: String,
                   recallFloor: Double = 0.85,
                   costFrac: Double = 0.75): DataFrame = {
    // 4-row result consumed by three branches (cap, choice, output) —
    // localCheckpoint so the sweep's corpus passes run once
    val sweep = nprobeSweep(s, d).localCheckpoint()
    val cap = sweep.agg(max(col("avg_scanned")).as("max_scanned"))
    val flagged = sweep.crossJoin(broadcast(cap))
      .withColumn("cost_cap", round(col("max_scanned") * lit(costFrac), 6))
      .withColumn("meets_recall", col("avg_recall") >= lit(recallFloor))
      .withColumn("within_cost", col("avg_scanned") <= col("cost_cap"))
    val bestRecall = flagged.filter(col("within_cost"))
      .agg(max(col("avg_recall")).as("best_recall"))
    val choice = flagged.crossJoin(broadcast(bestRecall))
      .agg(
        min(when(col("meets_recall") && col("within_cost"), col("np"))).as("elig_np"),
        min(when(col("within_cost") && col("avg_recall") === col("best_recall"),
          col("np"))).as("fallback_np"))
    flagged.crossJoin(broadcast(choice))
      .withColumn("chosen_np", coalesce(col("elig_np"), col("fallback_np")))
      .withColumn("chosen", col("np") === col("chosen_np"))
      .withColumn("decision",
        when(!col("chosen"), lit(""))
          .when(col("elig_np").isNotNull, lit("meets_floor"))
          .otherwise(lit("best_effort")))
      .select(col("np"), col("n_probes"), col("avg_scanned"), col("avg_recall"),
        col("cost_cap"), col("meets_recall"), col("within_cost"),
        col("chosen"), col("decision"))
      .orderBy(col("np"))
  }

  /** a26: QUERY-ADAPTIVE probe width — the serve-time refinement a24/
    * a25 can't express: a single global nProbe over-scans easy
    * queries and under-scans hard ones. The hardness signal is the
    * CENTROID MARGIN (nearest-centroid cosine minus second-nearest):
    * a query deep inside one cell (large margin) has its true
    * neighbors in that cell and probing wider is waste; a query near
    * a cell boundary (small margin) has neighbors split across cells
    * and MUST probe wide. Per-query np = margin tercile (top third →
    * 1 probe, middle → 2, bottom → maxProbe) — self-calibrating, no
    * fixed threshold to tune per corpus. The output is a24's table
    * with an `adaptive` row next to the fixed levels, plus avg_np
    * (the real scan budget): the payoff claim — adaptive reaches
    * near-wide recall at near-narrow cost — is readable directly.
    * Scale shape: identical to the sweep (probe set is
    * corpus-size-independent, candidates only from routed cells);
    * the tercile window orders only the probes-sized margin frame.
    * The routed (probe, cell, rank) frame is localCheckpointed — it
    * feeds both the margin aggregate and the serve join. */
  def adaptiveNprobe(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                     k: Int = K, maxProbe: Int = 4): DataFrame = {
    val v = vecs(s, d)
    val (cents, assigned) = cellsOf(s, d, v, geo)
    val pc = routeProbes(probesOf(v), cents, maxProbe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"),
        col("cell"), col("crank"), col("pc_cos"))
      .localCheckpoint()
    val margins = pc.groupBy(col("probe_id"))
      .agg((max(when(col("crank") === 1, col("pc_cos"))) -
        max(when(col("crank") === 2, col("pc_cos")))).as("margin"))
      .withColumn("tercile",
        ntile(3).over(Window.orderBy(col("margin").desc, col("probe_id"))))
      .withColumn("np_q",
        when(col("tercile") === 1, 1).when(col("tercile") === 2, 2)
          .otherwise(maxProbe))
    val policies = margins.select(col("probe_id"),
        explode(array(
          (1 to maxProbe).map(n =>
            struct(lit(s"fixed_$n").as("policy"), lit(n).as("np"))) :+
            struct(lit("adaptive").as("policy"), col("np_q").as("np")): _*)).as("pol"))
      .select(col("probe_id"), col("pol.policy").as("policy"), col("pol.np").as("np"))
    val lv = pc.join(policies, Seq("probe_id"))
      .filter(col("crank") <= col("np"))
      .select(col("policy"), col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    val polNames = (1 to maxProbe).map(n => s"fixed_$n") :+ "adaptive"
    levelHits(s, d, cellCandidates(assigned, lv), k, "policy", array(polNames.map(lit): _*))
      .join(policies, Seq("policy", "probe_id"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_probes"),
        round(avg(col("np").cast("double")), 6).as("avg_np"),
        round(avg(coalesce(col("n_cand"), lit(0L)).cast("double")), 6).as("avg_scanned"),
        round(avg(col("n_hit").cast("double") / col("n_exact")), 6).as("avg_recall"))
      .orderBy(col("policy"))
  }

  /** IVF: coarse centroids (`nCentroids` hash-sampled vectors), each
    * vector assigned to its nearest cell; a probe searches only its
    * nProbe nearest cells. Centroid set is broadcast everywhere. */
  def ivfKnn(s: SparkSession, d: String, geo: AnnGeometry = Geo, k: Int = K): DataFrame = {
    val v = vecs(s, d)
    val cents = centroidsOf(v, geo.nCentroids)
    // nearest cell per vector
    val assigned = assignCells(v, cents)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    // nProbe nearest cells per probe; search only those cells
    val probeCells = routeProbes(probesOf(v), cents, geo.nProbe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    knnRows(cosineTopK(cellCandidates(assigned, probeCells), k))
  }

  /** One Lloyd iteration of IVF centroid refinement: assign every
    * vector to its nearest seed centroid, recompute each cell's
    * centroid as the element-wise member mean, reassign against the
    * refined centroids, and report per-cell occupancy + mean
    * similarity. The index-build loop a vector store runs: each
    * iteration is one corpus scan + a (cell, dim) aggregation whose
    * size is cells×dims regardless of corpus size; centroids stay
    * broadcast. */
  def ivfRefine(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val v = vecs(s, d)
    val assigned = assignCells(v, centroidsOf(v, geo.nCentroids))
    // refined centroid = element-wise mean of members, then reassign
    assignCells(v, cellMeans(assigned))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), avg(col("c_cos")).as("mean_cos"))
      .orderBy(col("cell"))
  }

  /** The (cents, assigned) pair a24/a26 search, assigned as (vec_id,
    * emb, nrm, cell). Centroids and assignment come from the PERSISTED
    * corpus index (built once per run, manifest-verified load) when
    * the caller uses the published geometry; the acceptance gate then
    * audits the artifact a serve fleet actually reads. The index was
    * built by assignCells, so the loaded (vec_id, cell) mapping is
    * value-identical to the assignCells recomputation of the other
    * branch, which the oracle mirrors. Exact cosines still need the
    * vectors, so the assignment joins back to the corpus on vec_id. */
  private def cellsOf(s: SparkSession, d: String, v: DataFrame,
                      geo: AnnGeometry): (DataFrame, DataFrame) =
    if (geo == Geo) {
      val ix = servedIndex(s, d)
      (ix.cents.select(col("cell"), col("c_emb"), col("c_nrm")),
        v.join(ix.assigned.select(col("vec_id"), col("cell")), "vec_id")
          .select(col("vec_id"), col("emb"), col("nrm"), col("cell")))
    } else {
      val c = centroidsOf(v, geo.nCentroids)
      (c, assignCells(v, c).select(col("vec_id"), col("emb"), col("nrm"), col("cell")))
    }

  /** The coarse centroid table (cell, c_emb, c_nrm): the `n` hash-
    * sampled seed rows of `v`, each seed's vec_id naming its cell. */
  private[queries] def centroidsOf(v: DataFrame, n: Int): DataFrame =
    hashTopK(v, "cent", n)
      .select(col("vec_id").as("cell"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))

  /** One assignment pass: every vector → its nearest centroid from a
    * broadcast (cell, c_emb, c_nrm) table (argmax cosine, ties to the
    * smaller cell), keeping the winning cosine. Every column of `v`
    * passes through, then (cell, c_cos). The corpus × constant-size-
    * centroids broadcast product is the intended IVF shape (cells ≪
    * corpus). */
  private[graft] def assignCells(v: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("cell"))
    v.join(broadcast(cents))
      .withColumn("c_cos", cosPre(col("emb"), col("nrm"), col("c_emb"), col("c_nrm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(v.columns.toSeq.map(col) :+ col("cell") :+ col("c_cos"): _*)
  }

  /** Probe routing: each probe's `nProbe` nearest cells from a
    * broadcast (cell, c_emb, c_nrm) table, ranked by cosine with
    * [[assignCells]]' tie-break, so a probe's rank-1 route is the cell
    * it would be assigned to. Every column of `probes` (probe_id,
    * p_emb, p_nrm, …) passes through, then (cell, pc_cos, crank). */
  private[queries] def routeProbes(probes: DataFrame, cents: DataFrame,
                                   nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("pc_cos").desc, col("cell"))
    probes.join(broadcast(cents))
      .withColumn("pc_cos", cosPre(col("p_emb"), col("p_nrm"), col("c_emb"), col("c_nrm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select(probes.columns.toSeq.map(col) :+ col("cell") :+ col("pc_cos") :+ col("crank"): _*)
  }

  /** Element-wise member means per cell → the refined centroid table.
    * State is cells × dims doubles regardless of corpus size. */
  private[queries] def cellMeans(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"),
        transform(col("pm"), e => e.getField("m")).as("c_emb"))
      .withColumn("c_nrm", graft.functions.Vec.norm(col("c_emb")))

  /** a15: k full Lloyd iterations of IVF refinement (a5 is one), with
    * per-iteration convergence stats — the index-BUILD loop a vector
    * store runs to convergence before serving. Each iteration is one
    * corpus assignment pass plus a (cell, dim) mean whose state is
    * cells×dims; centroids stay broadcast throughout. `assigned` is
    * localCheckpoint'ed per round (the Components.connected practice:
    * on a real cluster this checkpoints to reliable storage) so the
    * lineage doesn't double per iteration and each pass runs once.
    * mean_cos is the k-means objective in cosine form — the spec
    * asserts it is non-decreasing across iterations. */
  def ivfRefineIterated(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                        iters: Int = 3): DataFrame = {
    val v = vecs(s, d)
    val seeds = centroidsOf(v, geo.nCentroids)
    var assigned = assignCells(v, seeds).localCheckpoint()
    var stats: DataFrame = null
    for (i <- 1 to iters) {
      val cents = cellMeans(assigned)
      assigned = assignCells(v, cents).localCheckpoint()
      val st = assigned
        .agg(countDistinct(col("cell")).as("n_cells"),
          count(lit(1)).as("n_vecs"),
          round(avg(col("c_cos")), 6).as("mean_cos"))
        .select(lit(i.toLong).as("iter"), col("n_cells"), col("n_vecs"), col("mean_cos"))
      stats = if (stats == null) st else stats.unionAll(st)
    }
    stats.orderBy(col("iter"))
  }

  /** Movement-based Lloyd convergence: iterate until no centroid moved
    * more than `eps` in cosine distance (or `maxIters`). The per-round
    * driver action reads a CELLS-sized aggregate (one double per
    * cell), never corpus data — the same bounded-state fixpoint
    * pattern as operators.Components.connected. Returns the refined
    * centroid table (cell, c_emb, c_nrm) ready to serve a3/a10. */
  def ivfRefineConverged(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                         maxIters: Int = 10, eps: Double = 1e-6): DataFrame = {
    val v = vecs(s, d)
    var cents = centroidsOf(v, geo.nCentroids)
      .localCheckpoint()
    var iter = 0
    var moved = true
    while (moved && iter < maxIters) {
      val next = cellMeans(assignCells(v, cents)).localCheckpoint()
      val worst = next.as("n")
        .join(cents.as("p"), col("n.cell") === col("p.cell"))
        .select((lit(1.0) - graft.functions.Vec.dot(col("n.c_emb"), col("p.c_emb")) /
          (col("n.c_nrm") * col("p.c_nrm"))).as("move"))
        .agg(max(col("move")).as("worst"))
        .head().getDouble(0)
      moved = worst > eps
      cents = next
      iter += 1
    }
    cents
  }

  /** Hard-negative mining: for each probe, the nearest neighbor
    * carrying a DIFFERENT label (the cross-label margin example a
    * contrastive training pipeline wants). Candidates come from the
    * probe's LSH buckets — tier 0 is the probe's own bucket plus its
    * Hamming-1 neighbors (a6's expansion); tier 1 widens to Hamming-2
    * buckets. Ranking by (tier, cosine) means a probe uses tier 1
    * ONLY when its tier-0 buckets hold no cross-label candidate, all
    * in ONE bucket-equi broadcast hash join — no per-probe corpus
    * scan (the pre-round-4 BroadcastNestedLoopJoin shape), so
    * corpus-side work stays one map-side bucket per vector at 100 TB. */
  def crossLabelNN(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
      .withColumn("bucket", lshBucket(col("emb"), geo.planes))
    val probes = probesOf(v, "label", "bucket")
    val tier0 = hamming1(col("p_bucket"), geo.planes).map(b =>
      struct(lit(0).as("tier"), b.as("sb")))
    val tier1 = for { i <- 0 until geo.planes; j <- i + 1 until geo.planes }
      yield struct(lit(1).as("tier"),
        flipBit(flipBit(col("p_bucket"), i, geo.planes), j, geo.planes).as("sb"))
    val expanded = probes
      .withColumn("x", explode(array(tier0 ++ tier1: _*)))
      .select(col("probe_id"), col("p_label"), col("p_emb"), col("p_nrm"),
        col("x.tier").as("tier"), col("x.sb").as("search_bucket"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("tier"), col("cosine").desc, col("vec_id"))
    v.join(broadcast(expanded),
        col("bucket") === col("search_bucket") && col("label") =!= col("p_label"))
      .withColumn("cosine", cosPre(col("p_emb"), col("p_nrm"), col("emb"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("probe_id"), col("p_label"), col("vec_id").as("nn_id"),
        col("label").as("nn_label"), col("cosine"))
      .orderBy(col("probe_id"))
  }

  /** Cosine-threshold range search: every corpus vector with cosine ≥
    * `minCos` to a probe — the retrieval shape near-dup mining and
    * hard-example harvesting use when "how many" isn't known up
    * front. Candidates come from the probe's Hamming≤1 LSH buckets
    * (a6's expansion), so corpus-side work stays one map-side bucket
    * per vector; no top-k window at all — the threshold filter is the
    * only reduction. */
  def rangeSearch(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                  minCos: Double = 0.25): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("emb"), geo.planes))
    val expanded = probesOf(v, "bucket").withColumn("search_bucket",
      explode(array(hamming1(col("p_bucket"), geo.planes): _*)))
    v.join(broadcast(expanded),
        col("bucket") === col("search_bucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", cosPre(col("p_emb"), col("p_nrm"), col("emb"), col("nrm")))
      .filter(col("cosine") >= minCos)
      .select(col("probe_id"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("vec_id"))
  }

  /** Index-quality QA: recall@k of the LSH index against the exact
    * baseline, per probe. A LEFT join keeps probes the index fully
    * misses (recall 0) in the report. At 100 TB this runs on a
    * sampled probe set — the corpus-side cost is one a1 scan plus
    * one a2 bucket lookup, both of which the family already bounds;
    * it is the acceptance gate for a geometry change (raise planes →
    * re-run a8 → compare recall vs candidate volume). */
  def recallEval(s: SparkSession, d: String, geo: AnnGeometry = Geo, k: Int = K): DataFrame = {
    val approx = lshKnn(s, d, geo, k)
      .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
    recallOf(exactPairs(s, d, k), approx)
  }

  /** Scalar int8 quantization of the embedding corpus — the storage/
    * serving compression step of an ANN index (4× smaller than
    * float32). Per-dimension affine code: q = round((x - lo) / scale)
    * clamped to [0, 255] with scale = (hi - lo) / 255; the report is
    * per-dim reconstruction error (MSE) + saturation counts — the
    * acceptance check before swapping an index to quantized codes.
    * Two scans: the per-dim (lo, hi) aggregate is dims-sized (tiny)
    * and broadcast back; quantization + the error rollup are one
    * map-side pass + one dims-keyed agg. At 100 TB the stats scan
    * runs on a sample; everything downstream is unchanged. */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    val xs = dimsOf(s, d)
    val stats = xs.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .withColumn("scale", (col("hi") - col("lo")) / 255.0)
    xs.join(broadcast(stats), "dim")
      .withColumn("q", when(col("scale") === 0.0, 0.0)
        .otherwise(least(greatest(round((col("x") - col("lo")) / col("scale"), 0),
          lit(0.0)), lit(255.0))))
      .withColumn("err", col("x") - (col("lo") + col("q") * col("scale")))
      .groupBy(col("dim"))
      .agg(first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        first(col("scale")).as("scale"),
        count(lit(1)).as("n"),
        sum(when(col("q") === 0.0 || col("q") === 255.0, 1L).otherwise(0L)).as("n_edge"),
        (sum(col("err") * col("err")) / count(lit(1))).as("mse"))
      .select(col("dim").cast("long").as("dim"), col("lo"), col("hi"),
        col("scale"), col("n"), col("n_edge"), col("mse"))
      .orderBy(col("dim"))
  }

  /** Recall of kNN served from int8-reconstructed codes against the
    * exact float baseline — the end-to-end acceptance gate for a9's
    * quantization (a9 reports per-dim MSE; this answers the question
    * an index operator actually asks: does top-k survive the codes).
    * Asymmetric distance: float probes against the reconstructed
    * corpus (the ADC serving shape). The dims-sized (lo, scale)
    * table broadcasts back onto the exploded corpus; reassembly
    * groups on vec_id, so the shuffle carries (vec_id, dim, code)
    * triples — at deploy the stats come from a sample and the
    * reconstruct is a map-side array expression. */
  def quantizedRecall(s: SparkSession, d: String, k: Int = K): DataFrame = {
    val xs = dimsOf(s, d)
    val stats = xs.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"),
        ((max(col("x")) - min(col("x"))) / 255.0).as("scale"))
    val recon = xs.join(broadcast(stats), "dim")
      .withColumn("rx",
        when(col("scale") === 0.0, col("lo")).otherwise(
          col("lo") + least(greatest(round((col("x") - col("lo")) / col("scale")),
            lit(0.0)), lit(255.0)) * col("scale")))
      .groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("rx")))),
        x => x.getField("rx")).as("emb"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
    val approx = cosineTopK(
        recon.join(broadcast(probesOf(vecs(s, d))), col("vec_id") =!= col("probe_id")), k)
      .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
    recallOf(exactPairs(s, d, k), approx)
  }

  /** Product-quantization codebook QA — the compression step past
    * a9's scalar codes (PQ stores one centroid id per subvector:
    * M×log2(k) bits/vector instead of dims×8). The corpus splits
    * into M contiguous subspaces; per subspace, stride-seeded
    * codebooks assign each subvector to its nearest (L2) centroid.
    * Reported per subspace: vectors, codes actually used, and mean
    * squared quantization error — the table that says whether the
    * codebook count is sized to the data before an index serves PQ
    * codes. Codebooks are broadcast (M×k×subdim doubles); assignment
    * is one corpus scan; the rollup is M rows. */
  def pqCodes(s: SparkSession, d: String,
              m: Int = PqM, subDim: Int = PqSubDim): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    pqCodebookStats(base, hashTopK(base, "cent", Geo.nCentroids), m, subDim)
  }

  /** Per-subspace slices of an (id, emb) relation: one (id, sub, sv)
    * row per subspace — shared by the codebook build and every PQ
    * coding pass. */
  private[queries] def subVecsOf(df: DataFrame, idCol: String,
                        m: Int, subDim: Int): DataFrame =
    df.select(col(idCol),
      posexplode(array((0 until m).map(i =>
        slice(col("emb"), i * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))

  /** The PQ codebook (code_id, sub, cv) of a seed relation (vec_id,
    * emb): each seed row's subvectors, the seed's vec_id naming its
    * code word in every subspace. */
  private[queries] def codebookOf(seeds: DataFrame, m: Int, subDim: Int): DataFrame =
    subVecsOf(seeds, "vec_id", m, subDim)
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))

  /** Nearest-codeword assignment over ANY (vec_id, sub, sv) split
    * against a broadcast (code_id, sub, cv) codebook — the
    * layout-independent core shared by the contiguous split
    * (a12/a17/a18 via [[pqAssignments]]), a19/a21's permuted splits
    * and every IVF-PQ coding pass. Argmin L2 per (vec, sub), ties to
    * the smaller code_id. Returns (vec_id, sub, code_id, dist). */
  private[graft] def pqAssignSubs(subs: DataFrame, codebook: DataFrame): DataFrame = {
    val dist = graft.functions.Vec.dot(col("sv"), col("sv")) -
      lit(2.0) * graft.functions.Vec.dot(col("sv"), col("cv")) +
      graft.functions.Vec.dot(col("cv"), col("cv"))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dist"), col("code_id"))
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", dist)
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("sub"), col("code_id"), col("dist"))
  }

  /** PQ code assignment: every (vec_id, sub) subvector of `base` → its
    * nearest (L2) word of the codebook seeded by `seeds`. Returns
    * (vec_id, sub, code_id, dist) — the CODES an IVF-PQ index stores
    * (a18 serves them); [[pqCodebookStats]] is its QA rollup. */
  private[graft] def pqAssignments(base: DataFrame, seeds: DataFrame,
                                   m: Int, subDim: Int): DataFrame =
    pqAssignSubs(subVecsOf(base, "vec_id", m, subDim), codebookOf(seeds, m, subDim))

  /** Per-subspace codebook assignment + QA rollup over any
    * (vec_id, emb) relation — shared by a12 (raw vectors) and a17
    * (IVF residuals). Codebooks are the seed rows' subvectors,
    * broadcast; assignment is one scan; the rollup is m rows. */
  private[graft] def pqCodebookStats(base: DataFrame, seeds: DataFrame,
                                     m: Int, subDim: Int): DataFrame = {
    subStats(pqAssignments(base, seeds, m, subDim))
      .select(col("sub").cast("long").as("sub"), col("n_vecs"),
        col("n_codes_used"), col("mse"))
      .orderBy(col("sub"))
  }

  /** Per-subspace rollup of a (vec_id, sub, code_id, dist) code
    * assignment: (sub, n_vecs, n_codes_used, mse). */
  private def subStats(codes: DataFrame): DataFrame =
    codes.groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code_id")).as("n_codes_used"),
        round(avg(col("dist")), 6).as("mse"))

  /** a17: IVF-PQ composition — product-quantize the RESIDUAL
    * (vector − its assigned coarse centroid) instead of the raw
    * vector, codebooks seeded from the residuals of the same
    * hash-sampled rows a12 uses. This is the standard IVF-PQ layout:
    * on a CLUSTERED corpus residuals concentrate near the origin, so
    * the same codebook budget spends its precision where the data
    * lives (spec-proved on an engineered 100-cluster corpus where
    * residual error undercuts raw PQ by the structural margin the
    * seed coverage allows); on a near-random corpus
    * there is no coarse structure to subtract and the layout's value
    * is the serve-time cell pruning, not the codes. Same cost shape
    * as a12 plus one broadcast-centroid assignment pass. */
  def residualPqCodes(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                      m: Int = PqM, subDim: Int = PqSubDim): DataFrame =
    residualPqStats(vecs(s, d), geo, m, subDim)

  /** `codes` sizes the PQ codebooks independently of the coarse cell
    * count (real IVF-PQ tunes them separately: MANY coarse cells to
    * land inside a cluster, FEW codes to describe the residual);
    * it defaults to the PASSED geometry's cell count. The residual
    * codebook seeds use a DISTINCT salt ("rcent") from the coarse
    * centroids — with the same salt the seed rows ARE the centroid
    * rows, whose residuals are identically zero, collapsing the
    * codebook to `codes` copies of the origin (one code used, PQ
    * layer vacuous). */
  private[graft] def residualPqStats(v: DataFrame, geo: AnnGeometry,
                                     m: Int, subDim: Int,
                                     codes: Int = -1): DataFrame = {
    val nCodes = if (codes > 0) codes else geo.nCentroids
    val cents = centroidsOf(v, geo.nCentroids)
    val resid = assignCells(v, cents)
      .join(broadcast(cents.select(col("cell"), col("c_emb"))), "cell")
      .select(col("vec_id"),
        zip_with(col("emb"), col("c_emb"), (a, b) => a - b).as("emb"))
    val seeds = hashTopK(resid, "rcent", nCodes)
    pqCodebookStats(resid, seeds, m, subDim)
  }

  /** a19: variance-balanced PQ dimension allocation — the standard
    * pre-rotation baseline from the OPQ literature (Ge et al. call it
    * the balanced/natural partition): a12's CONTIGUOUS split assigns
    * dims 0-7, 8-15, … to subspaces, so if variance concentrates in a
    * dim range one codebook carries most of the corpus energy and the
    * others quantize noise. Here dims are ranked by per-dim variance
    * (a dims-sized stats aggregate, broadcast) and dealt round-robin
    * to the M subspaces, evening per-subspace energy before any
    * codebook is trained. Ranks come from a bounded global window
    * (row_number over variance DESC, dim ASC) on the 64-row stats
    * table — dims-sized at any corpus, declared in
    * plan_discipline's GLOBAL_WINDOW_OK; until round 19 this was an
    * ordered-pair count join, three stages for the same 64-row
    * sort. The permuted subvectors
    * are built by one (vec, sub) regroup of the exploded dims — the
    * same shuffle shape a11's per-dim quantizer already pays — and
    * code assignment reuses the shared pqAssignSubs core. Reported
    * per subspace: dim count, total variance (the balance being
    * audited), codes used, MSE. */
  def pqBalanced(s: SparkSession, d: String,
                 m: Int = PqM): DataFrame = {
    val xs = dimsOf(s, d)
    val alloc = dealDims(dimVariance(xs, "d"), "d", m)
    val subs = xs.join(broadcast(alloc.select(col("dim"), col("sub"))), "dim")
      .groupBy(col("vec_id"), col("sub"))
      .agg(array_sort(collect_list(struct(col("dim"), col("x")))).as("pairs"))
      .select(col("vec_id"), col("sub"),
        expr("transform(pairs, p -> p.x)").as("sv"))
    subspaceReport(s, d, subs, alloc, "d")
  }

  /** Per-dimension variance of a (vec_id, dim, x) relation as (dim,
    * <p>var, <p>vr). `<p>vr` is ROUNDED to 9 dp before any comparison:
    * engines (or a re-inlined CTE) may recompute the aggregate with a
    * different partial-sum order, and last-ulp noise would then make
    * rank ties inconsistent; 1e-9 is far above fp noise and far below
    * real variance gaps. The dims-sized frame is localCheckpointed
    * (the a15 / Components practice): its consumers reuse it along
    * several branches, and an uncut lineage re-runs the corpus-wide
    * aggregate at every reuse (18 scans in a19's uncut plan, 66 in
    * a21's first draft). */
  private def dimVariance(xs: DataFrame, p: String): DataFrame =
    xs.groupBy(col("dim"))
      .agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as(s"${p}var"))
      .withColumn(s"${p}vr", round(col(s"${p}var"), 9))
      .localCheckpoint()

  /** Variance rank `rk` = row_number over (<p>vr DESC, dim ASC) minus
    * 1: one bounded global window over the dims-sized stats (declared
    * in plan_discipline's GLOBAL_WINDOW_OK). */
  private def varianceRank(stats: DataFrame, p: String): DataFrame =
    stats.withColumn("rk",
      (row_number().over(Window.orderBy(col(s"${p}vr").desc, col("dim"))) - 1)
        .cast("long"))

  /** a19's deal: dims dealt round-robin to `m` subspaces in variance
    * rank order → (dim, sub, <p>var). */
  private def dealDims(stats: DataFrame, p: String, m: Int): DataFrame =
    varianceRank(stats, p)
      .select(col("dim"), pmod(col("rk"), lit(m)).cast("int").as("sub"), col(s"${p}var"))

  /** a19/a21's per-subspace report over a permuted split `subs`
    * (vec_id, sub, sv) and its deal `alloc` (dim, sub, <p>var): the
    * codebook is the `cent` seed rows' own subvectors, assignment is
    * the shared pqAssignSubs core, and each sub reports dim count,
    * total variance (the balance being audited), codes used and MSE. */
  private def subspaceReport(s: SparkSession, d: String, subs: DataFrame,
                             alloc: DataFrame, p: String): DataFrame = {
    val seedIds = hashTopK(vecs(s, d), "cent", Geo.nCentroids).select(col("vec_id"))
    val cents = subs.join(broadcast(seedIds), "vec_id")
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))
    val perSubVar = alloc.groupBy(col("sub"))
      .agg(count(lit(1)).as("n_dims"), sum(col(s"${p}var")).as("var_total"))
    subStats(pqAssignSubs(subs, cents))
      .join(broadcast(perSubVar), "sub")
      .select(col("sub").cast("long").as("sub"), col("n_dims"),
        round(col("var_total"), 6).as("var_total"),
        col("n_vecs"), col("n_codes_used"), col("mse"))
      .orderBy(col("sub"))
  }

  /** a21's learned butterfly rotation, factored as reusable parts:
    * the rotated corpus (vec_id, rxv) and the a19-deal over the
    * rotated variance profile (dim → sub, rvar). a21 consumes both
    * to report per-subspace quantization stats; a27 composes them
    * into a serve-path comparison (rotation + deal baked into one
    * permuted array so the unchanged contiguous IVF-PQ machinery
    * quantizes the OPQ layout). */
  private[graft] def butterflyParts(s: SparkSession, d: String,
                                    m: Int = PqM): (DataFrame, DataFrame) = {
    // rank raw dims by rounded variance. The dim COUNT rides the same
    // frame as a second bounded window instead of an aggregate +
    // crossJoin broadcast round.
    val ranked = varianceRank(dimVariance(dimsOf(s, d), "d"), "d")
      .select(col("dim"), col("rk"))
    // butterfly pairing: rank r ↔ rank nd−1−r; odd-dim middle passes
    // through unrotated (none at d=64, but the shape is general)
    val pairs = ranked
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      .select(col("dim"),
        least(col("rk"), col("nd") - 1 - col("rk")).as("pair"),
        (col("rk") < col("nd") - 1 - col("rk")).as("is_hi"),
        (col("rk") === col("nd") - 1 - col("rk")).as("solo"))
    // Rotation is a per-vector pointwise butterfly once the pairing is
    // known, so apply it ARRAY-NATIVELY: condense the 64-row pair
    // table to two dense dim-indexed lookup arrays (partner dim, role)
    // carried on one broadcast row, and compute the rotated vector
    // with a transform over the original embedding. The first draft
    // exploded the corpus to N×64 rows and regrouped by (vec_id, pair)
    // — a full corpus-width shuffle paid AGAIN at sub-allocation
    // (VERDICT r8 flagged the double regroup); this form has zero
    // (vec_id, ·) shuffles: the only corpus-width exchange left in
    // a21 is the shared pqAssignSubs assignment window.
    val pd = pairs.groupBy(col("pair"))
      .agg(max(when(col("is_hi"), col("dim"))).as("dh"),
        max(when(!col("is_hi") && !col("solo"), col("dim"))).as("dl"),
        max(when(col("solo"), col("dim"))).as("dm"))
    val perDim = pd.select(explode(array(
        struct(col("dh").as("dim"), col("dl").as("partner"), lit(1).as("role")),
        struct(col("dl").as("dim"), col("dh").as("partner"), lit(-1).as("role")),
        struct(col("dm").as("dim"), col("dm").as("partner"), lit(0).as("role")))).as("e"))
      .select(col("e.dim").as("dim"), col("e.partner").as("partner"), col("e.role").as("role"))
      .filter(col("dim").isNotNull)
    // dims are a complete 0..nd-1 range, so after the sort index i IS
    // dim i — O(1) array subscripts in the rotate lambda (a map would
    // linear-scan its 64 entries per lookup)
    val ptab = perDim
      .agg(sort_array(collect_list(struct(col("dim"), col("partner"), col("role")))).as("pt"))
      .select(expr("transform(pt, p -> p.partner)").as("parr"),
        expr("transform(pt, p -> p.role)").as("rarr"))
    val sq2 = math.sqrt(2.0)
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xv"))
    val rotated = v.crossJoin(broadcast(ptab))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, size(xv) - 1), i ->
           |  CASE rarr[i] WHEN 1 THEN (xv[i] + xv[parr[i]]) / $sq2
           |               WHEN -1 THEN (xv[parr[i]] - xv[i]) / $sq2
           |               ELSE xv[i] END)""".stripMargin).as("rxv"))
    val rx = rotated.select(col("vec_id"),
      posexplode(col("rxv")).as(Seq("dim", "x")))
    // a19's deal, over the ROTATED variance profile
    (rotated, dealDims(dimVariance(rx, "r"), "r", m))
  }

  /** a21: OPQ-style LEARNED rotation past a19's permutation baseline.
    * a19 only reorders dims, so when most energy sits in a handful of
    * dims no deal can even the subspaces — round-robin hands sub 0
    * the heaviest dim of every round. A rotation MIXES energy across
    * dims before the split. Full OPQ solves a Procrustes/SVD
    * alternation; the closed-form member of that family is one
    * BUTTERFLY ROUND of Givens(45°) rotations: rank dims by variance,
    * pair rank r with rank d−1−r (heaviest with lightest), and send
    * each pair (h, l) → ((h+l)/√2, (h−l)/√2). The pair's energy
    * splits to (v_h+v_l)/2 ± cov — near-halved whenever the pair is
    * weakly correlated — so after ONE parallel round the variance
    * profile is dramatically flatter, and the a19 deal over the
    * ROTATED profile allocates what imbalance remains. The d/2
    * rotations touch disjoint dims, so the whole round is one
    * broadcast-pair regroup of the exploded corpus — the (vec, pair)
    * shuffle a19 already pays as (vec, sub) — not d sequential jobs;
    * this disjoint-round structure is exactly why fast-rotation ANN
    * stacks build their transforms from butterflies. The rotation is
    * orthogonal (distances are preserved, so the PQ codes quantize
    * the same geometry) and its matrix is DATA-DERIVED: the pairing
    * comes from the measured variance ranking, i.e. the rotation is
    * learned from the corpus, not sampled. Reported per subspace as
    * a19: dims, post-rotation energy, codes used, MSE — the spec
    * asserts the rotated allocation's energy spread undercuts both
    * the contiguous split and a19's permutation-only deal. */
  def opqRotated(s: SparkSession, d: String, m: Int = PqM): DataFrame = {
    val (rotated, alloc) = butterflyParts(s, d, m)
    // sub-slicing is likewise pointwise given a dense dim→sub lookup:
    // explode only to N×m rows, each slice filtered out of the rotated
    // array in ascending-dim order — no (vec_id, sub) regroup
    val salloc = alloc
      .agg(sort_array(collect_list(struct(col("dim"), col("sub")))).as("st"))
      .select(expr("transform(st, p -> p.sub)").as("sarr"))
    val subs = rotated.crossJoin(broadcast(salloc))
      .select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${m - 1}), k -> struct(k AS sub,
           |  transform(filter(sequence(0, size(rxv) - 1), i -> sarr[i] = k),
           |    i -> rxv[i]) AS sv))""".stripMargin)).as("e"))
      .select(col("vec_id"), col("e.sub").cast("int").as("sub"), col("e.sv").as("sv"))
    subspaceReport(s, d, subs, alloc, "r")
  }

  /** a27: does the learned rotation actually pay AT SERVE TIME? a21
    * proves the butterfly flattens subspace energy and drops
    * quantization MSE per subspace; this composes the full
    * production shape — rotation AND the a19 deal baked into ONE
    * permuted array (both orthogonal, so true distances are
    * untouched and the ORIGINAL-space brute top-k stays the ground
    * truth for both variants), then the UNCHANGED contiguous IVF-PQ
    * build/serve machinery runs over plain vs rotated+permuted
    * corpora. That bake-in is the deployment trick: a vector store
    * applies one fixed orthogonal transform at ingest and at query
    * time and keeps its contiguous-slice codebooks. Output: one row
    * per variant (pq / opq) with probes served, recall@k vs exact,
    * and corpus quantization MSE — the end-to-end answer to "is the
    * rotation worth shipping". Scale shape: the rotation/permutation
    * is a broadcast-array map pass; everything else is exactly
    * a18's serve (routed-cells candidates, broadcast ADC tables);
    * each leg's corpus is localCheckpointed once for its
    * index+probe+MSE consumers. */
  def opqServeGain(s: SparkSession, d: String, k: Int = K): DataFrame = {
    val (rotated, alloc) = butterflyParts(s, d)
    val perm = alloc
      .agg(expr("transform(array_sort(collect_list(struct(sub, dim))), p -> p.dim)")
        .as("perm"))
    val rotPerm = rotated.crossJoin(broadcast(perm))
      .select(col("vec_id"), expr("transform(perm, i -> rxv[i])").as("emb"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
    val base = vecs(s, d)
    val exact = exactPairs(s, d, k).localCheckpoint()
    def leg(v0: DataFrame, name: String): DataFrame = {
      val v = v0.localCheckpoint()
      // BOTH legs serve persisted artifacts (build-once per run): the
      // pq leg's corpus IS the published index's corpus, and a real
      // OPQ deployment persists its rotated-space index exactly the
      // same way (the transform is baked at ingest). The rotation is
      // deterministic, so the cached artifact is value-identical to a
      // per-run rebuild — the acceptance gate measures SERVING, not
      // repeated index construction.
      val ix =
        if (name == "pq") servedIndex(s, d)
        else servedIndexOf(s,
          s"${new java.io.File(d).getCanonicalPath}|$name", v)
      val served = ivfPqServeProbes(ix, probesOf(v), k = k)
        .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
      val per = hitCounts(exact, served)
      val seeds = hashTopK(v, "cent", Geo.nCentroids)
      val mse = pqAssignments(v.select(col("vec_id"), col("emb")), seeds,
          PqM, PqSubDim)
        .agg(avg(col("dist")).as("q_mse"))
      per.agg(count(lit(1)).as("n_probes"),
          avg(col("n_hit").cast("double") / col("n_exact")).as("avg_recall"))
        .withColumn("variant", lit(name))
        .crossJoin(broadcast(mse))
    }
    leg(base, "pq").unionByName(leg(rotPerm, "opq"))
      .select(col("variant"), col("n_probes"),
        round(col("avg_recall"), 6).as("avg_recall"),
        round(col("q_mse"), 6).as("q_mse"))
      .orderBy(col("variant"))
  }

  /** a20: index-drift audit — m20's measure→DECIDE pattern applied
    * to the ANN index lifecycle. ivfPqIndexDelta absorbs arrivals
    * without retraining; this is the table that says when the frozen
    * geometry has gone stale enough to force an a15 rebuild. The
    * centroids are rebuilt from the BUILD-TIME snapshot (the base
    * corpus, exactly what hashTopK chose then — removing none of the
    * seed rows, the snapshot seeds are reproducible); every vector,
    * base and delta alike, is assigned once, and the cells-sized
    * rollup reports per cell: base/delta members, delta share, and
    * the mean assignment cosine of each population — arrivals landing
    * systematically farther from their centroid than the members the
    * cell was trained on are the drift signal. One corpus scan + a
    * cells-sized aggregate at any scale. */
  def indexDrift(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val v = vecs(s, d)
    val base = v.filter(pmod(col("vec_id"), lit(7L)) =!= 3L)
    val cents = centroidsOf(base, geo.nCentroids)
    assignCells(v, cents)
      .withColumn("is_delta", pmod(col("vec_id"), lit(7L)) === 3L)
      .groupBy(col("cell"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        avg(when(!col("is_delta"), col("c_cos"))).as("cb"),
        avg(when(col("is_delta"), col("c_cos"))).as("cd"))
      .withColumn("delta_frac",
        round(col("n_delta").cast("double") / (col("n_base") + col("n_delta")), 6))
      .select(col("cell"), col("n_base"), col("n_delta"), col("delta_frac"),
        round(col("cb"), 6).as("mean_cos_base"),
        round(col("cd"), 6).as("mean_cos_delta"),
        (col("delta_frac") > RebuildCellFrac).as("rebuild"))
      .orderBy(col("cell"))
  }

  /** a20: a cell whose membership is more than this fraction
    * post-build arrivals was shaped by data its centroid never saw —
    * the per-cell rebuild trigger (fleet mean here is 1/7 ≈ 0.14, so
    * the 0.2 threshold flags genuinely delta-heavy cells, not all). */
  private val RebuildCellFrac = 0.2

  /** a22: a delta-heavy cell is only WORTH retraining when its
    * arrivals also sit measurably farther from the centroid than the
    * members it was trained on — below this assignment-cosine gap the
    * geometry still fits and merging posting lists suffices. */
  private val DriftCosGap = 0.05

  /** a22: the COMPACTION POLICY over a delta-grown index — the
    * decision layer a20's drift stats feed. ivfPqIndexDelta absorbs
    * arrivals forever; something must eventually say what the next
    * maintenance window does with each cell, and that split is
    * two-dimensional: delta SHARE says how much of the cell the
    * frozen geometry never saw, the assignment-cosine GAP says
    * whether those arrivals actually fit it. Per cell:
    * `rebuild` (delta-heavy AND drifted — the centroid no longer
    * describes its members; re-run a15 over the cell's keyspace),
    * `compact` (delta-heavy but geometrically fine — rewrite the
    * fragmented delta posting lists into the base segment, no
    * retraining), `keep` otherwise. The index-level verdict — the
    * "when does delta force an a15 rebuild" answer — trips when over
    * a quarter of cells want rebuild or the delta outweighs the base
    * corpus-wide (integer-arithmetic compares, so both engines
    * decide identically). Same cost shape as a20: one corpus
    * assignment pass + a cells-sized rollup; the global verdict is a
    * 1-row broadcast. The default delta split is a20's uniform 1/7
    * sample (geometrically benign, so it exercises compact-vs-keep);
    * the spec injects a drifted cluster through [[compactPolicyOf]]
    * to prove the rebuild arm fires. */
  def compactPolicy(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame =
    compactPolicyOf(vecs(s, d), pmod(col("vec_id"), lit(7L)) === 3L, geo)

  private[graft] def compactPolicyOf(v: DataFrame, isDelta: Column,
                                     geo: AnnGeometry = Geo): DataFrame = {
    val base = v.filter(!isDelta)
    val cents = centroidsOf(base, geo.nCentroids)
    policyFromStats(deltaStatsOf(assignCells(v, cents).withColumn("is_delta", isDelta)))
  }

  /** The a22 stats kernel shared by the batch policy, a30's drift
    * table, and a31's executor: per-cell (count, Σcos) SUMS split by
    * population, from an assignment frame carrying `is_delta`. */
  private[queries] def deltaStatsOf(asg: DataFrame): DataFrame =
    asg.groupBy(col("cell"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_delta"), col("c_cos")).otherwise(lit(0.0))).as("s_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("is_delta"), col("c_cos")).otherwise(lit(0.0))).as("s_delta"))

  /** a22's decision layer over per-cell stats — shared by the one-shot
    * batch policy above and the INCREMENTAL monitor
    * ([[compactStatsStep]]/[[policyOfStores]]). Stats are (count,
    * Σcos) SUMS per population, not averages, precisely so they merge
    * associatively across micro-batches. */
  private[graft] def policyFromStats(stats: DataFrame): DataFrame = {
    val perCell = stats
      .withColumn("cb", when(col("n_base") > 0, col("s_base") / col("n_base")))
      .withColumn("cd", when(col("n_delta") > 0, col("s_delta") / col("n_delta")))
      .withColumn("delta_frac",
        round(col("n_delta").cast("double") / (col("n_base") + col("n_delta")), 6))
      .withColumn("cos_gap", round(coalesce(col("cb") - col("cd"), lit(0.0)), 6))
      .withColumn("action",
        when(col("delta_frac") > RebuildCellFrac && col("cos_gap") > DriftCosGap,
          "rebuild")
          .when(col("delta_frac") > RebuildCellFrac, "compact")
          .otherwise("keep"))
    val glob = perCell.agg(
        sum(when(col("action") === "rebuild", 1L).otherwise(0L)).as("rebuild_cells"),
        count(lit(1)).as("n_cells"),
        sum(col("n_base")).as("tb"), sum(col("n_delta")).as("td"))
      .select(col("rebuild_cells"),
        round(col("td").cast("double") / (col("tb") + col("td")), 6)
          .as("global_delta_frac"),
        (col("rebuild_cells") * 4 > col("n_cells") ||
          col("td") * 2 > col("tb") + col("td")).as("rebuild_index"))
    perCell.crossJoin(broadcast(glob))
      .select(col("cell"), col("n_base"), col("n_delta"), col("delta_frac"),
        col("cos_gap"), col("action"), col("rebuild_cells"),
        col("global_delta_frac"), col("rebuild_index"))
      .orderBy(col("cell"))
  }

  /** Base-population stats frozen at index-build time — the static
    * side the live monitor compares arrivals against. */
  private[graft] def baseStatsOf(base: DataFrame, cents: DataFrame): DataFrame =
    assignCells(base, cents).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"), sum(col("c_cos")).as("s_base"))

  /** One live-monitor step: absorb a micro-batch of arrivals into the
    * per-cell delta-stats store (cell, n_delta, s_delta). The store —
    * like segmentDedupStep's digest store — is durable storage the
    * caller persists between batches, cells-sized forever; each step
    * is one map-side broadcast assignment + a cells-sized merge. */
  private[graft] def compactStatsStep(cents: DataFrame, store: DataFrame,
                                      batch: DataFrame): DataFrame =
    store.unionByName(
        assignCells(batch, cents).groupBy(col("cell"))
          .agg(count(lit(1)).as("n_delta"), sum(col("c_cos")).as("s_delta")))
      .groupBy(col("cell"))
      .agg(sum(col("n_delta")).as("n_delta"), sum(col("s_delta")).as("s_delta"))

  /** The live monitor's verdict: frozen base stats + the grown delta
    * store → exactly the batch a22 policy table (spec-proved). Cells
    * with no arrivals yet coalesce to zero delta. */
  private[graft] def policyOfStores(baseStats: DataFrame,
                                    deltaStore: DataFrame): DataFrame =
    policyFromStats(baseStats.join(deltaStore, Seq("cell"), "left")
      .select(col("cell"), col("n_base"), col("s_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("s_delta"), lit(0.0)).as("s_delta")))

  /** a18: the end-to-end IVF-ADC SERVE path — what an IVF-PQ index
    * actually executes per query, composing the pieces the family
    * builds and QAs separately (a3 routing, a12 codes, a10/a16
    * gates): probes route to their nProbe nearest coarse cells;
    * candidates are those cells' members only; scoring is the
    * ASYMMETRIC distance — the probe's EXACT subvectors against each
    * candidate's stored code word, Σ_sub ‖p_sub − cv(code)‖²
    * (Jégou et al.'s ADC) — so candidates are ranked without ever
    * touching their raw vectors. Scale shape: routing and the ADC
    * lookup tables are computed on the driver and broadcast as
    * probes × nProbe rows of M × codes partial distances; the corpus
    * contributes one scan of its packed postings (cell, vec_id, M
    * codes), and the only shuffle is the top-k window's, after a
    * per-partition group limit ([[ivfPqServeProbes]]). The
    * per-candidate cost is M table lookups + one M-term sum —
    * independent of dims — which is exactly why serving reads codes,
    * not vectors, at 100 TB. */
  def ivfPqServe(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                 m: Int = PqM, subDim: Int = PqSubDim, k: Int = K): DataFrame = {
    val probes = probesOf(vecs(s, d))
    // default geometry == the published corpus artifact: serve THAT
    // (build-once + manifest-verified load); a caller with custom
    // geometry still gets a fresh build
    val ix = if (geo == Geo && m == PqM && subDim == PqSubDim) servedIndex(s, d)
             else ivfPqIndex(s, d, geo, m, subDim)
    ivfPqServeProbes(ix, probes, geo, k)
  }

  /** p8's corpus-card index leg: ONE row (n_cells, recall) describing
    * the SERVED corpus index — cells from the loaded artifact, recall
    * of its IVF-ADC serve against exact brute-force truth, the a8
    * formula. The card thereby publishes the quality of the exact
    * artifact a serve fleet reads (same persisted frames, same
    * manifest check), not a fresh rebuild that could silently
    * diverge. Probe set is corpus-size-independent; brute truth is
    * probes × corpus, the acceptance-gate cost every recall audit
    * here already pays. */
  private[graft] def servedIndexStats(s: SparkSession, d: String): DataFrame = {
    val ix = servedIndex(s, d)
    val served = ivfPqServeProbes(ix, probesOf(vecs(s, d)))
      .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
    val per = hitCounts(exactPairs(s, d, K), served)
    per.agg(avg(col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .crossJoin(broadcast(ix.cents.agg(count(lit(1)).as("n_cells"))))
  }

  /** a28: the serve-cost SLO table (round 12) — the capacity-planning
    * numbers a fleet sizes from, read off the SERVED index artifact:
    * per probe, how many coarse cells its routing touches, how many
    * candidates those cells contain (minus the probe itself — the
    * a18 serve's exclusion), the implied ADC work (M table lookups
    * per candidate), and the fraction of the corpus scanned. The
    * whole point of IVF is that frac_scanned ≪ 1; this is the table
    * that PROVES it per query and catches a hot-cell route before it
    * becomes a latency cliff. Cost: the routing join (probes ×
    * broadcast centroids) + a cells-sized size rollup — no vector
    * math at all; the probe's rank-1 route is its own assigned cell
    * by construction (identical cosine + tiebreak ordering), so the
    * self-exclusion is exact. */
  def serveCost(s: SparkSession, d: String): DataFrame = {
    val ix = servedIndex(s, d)
    val v = vecs(s, d)
    val routes = routeProbes(probesOf(v), ix.cents, Geo.nProbe)
      .select(col("probe_id"), col("cell"))
    val sizes = ix.assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val tot = v.agg(count(lit(1)).as("n_corpus"))
    routes.join(broadcast(sizes), "cell")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_cells_routed"),
        (sum(col("n_members")) - 1L).as("n_candidates"))
      .crossJoin(broadcast(tot))
      .select(col("probe_id"), col("n_cells_routed"), col("n_candidates"),
        (col("n_candidates") * PqM).as("adc_ops"),
        round(col("n_candidates").cast("double") / col("n_corpus"), 6)
          .as("frac_scanned"))
      .orderBy(col("probe_id"))
  }

  /** a30: serve-cost DRIFT across the index lifecycle (round 13) —
    * a28's SLO table joined against a22's compaction policy, so the
    * capacity numbers show what delta absorption does to each PROBE's
    * scan bill between retrains (a28's "latency cliff" warning, made
    * measurable). Everything is read against the BASE-corpus
    * centroids — the geometry frozen at build time, a20/a22's split —
    * because that is the index [[ivfPqIndexDelta]] actually grows:
    * per probe, the routed cells, the candidate bill BEFORE deltas
    * (base members only) and AFTER (base+delta), the growth — which
    * EQUALS the routed cells' delta-member count exactly, the
    * identity the spec pins against a22 — the fraction of each
    * corpus version scanned, and how many routed cells the policy
    * marks rebuild/compact. A probe routing into delta-heavy cells
    * sees frac_scanned grow ahead of the fleet average: the per-query
    * early warning that the index-level rebuild_index verdict
    * aggregates away. Candidates are ALL routed-cell members (the
    * scan bill — no a18-style self exclusion; the probe's own row is
    * scanned work too), which is what keeps the growth identity
    * exact for base and delta probes alike. Cost: one corpus
    * assignment pass (the a22 kernel), a probes × broadcast-centroid
    * routing join, and a cells-sized policy join — no vector math
    * beyond routing. */
  def serveDrift(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame =
    serveDriftOf(vecs(s, d), pmod(col("vec_id"), lit(7L)) === 3L, geo)

  private[graft] def serveDriftOf(v: DataFrame, isDelta: Column,
                                  geo: AnnGeometry = Geo): DataFrame = {
    val base = v.filter(!isDelta)
    val cents = centroidsOf(base, geo.nCentroids)
    // the a22 kernel: assignCells keeps only (vec_id … cell, c_cos),
    // so the population flag is re-derived AFTER assignment from
    // vec_id (compactPolicyOf's pattern)
    val policy = policyFromStats(
        deltaStatsOf(assignCells(v, cents).withColumn("is_delta", isDelta)))
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"))
    serveDriftFrom(policy, cents, probesOf(v), geo)
  }

  /** a30's LIVE form: the same drift table read off the stores the
    * live compaction monitor already maintains ([[baseStatsOf]] +
    * [[compactStatsStep]]'s delta store) — NO corpus scan at all.
    * Per-cell counts and actions come from [[policyOfStores]]; the
    * only other work is the probes × broadcast-centroid routing join,
    * so a monitor can re-price every probe's scan bill after each
    * micro-batch for stores-sized cost. Equals the batch
    * [[serveDriftOf]] table whenever the stores hold the same
    * populations (spec-proved under arbitrary micro-batch splits). */
  private[graft] def serveDriftOfStores(baseStats: DataFrame, deltaStore: DataFrame,
                                        cents: DataFrame, probes: DataFrame,
                                        geo: AnnGeometry = Geo): DataFrame =
    serveDriftFrom(
      policyOfStores(baseStats, deltaStore)
        .select(col("cell"), col("n_base"), col("n_delta"), col("action")),
      cents, probes, geo)

  /** Shared tail of the batch and live a30 forms: route, price, join
    * the policy. `policy` must carry (cell, n_base, n_delta, action). */
  private def serveDriftFrom(policy: DataFrame, cents: DataFrame,
                             probes: DataFrame, geo: AnnGeometry): DataFrame = {
    val routes = routeProbes(probes, cents, geo.nProbe)
      .select(col("probe_id"), col("cell"))
    // corpus totals fall out of the cells-sized policy frame (every
    // vector is assigned exactly once) — no second corpus scan
    val tot = policy.agg(
      sum(col("n_base")).as("n_base_corpus"),
      sum(col("n_base") + col("n_delta")).as("n_corpus"))
    routes.join(broadcast(policy), "cell")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_cells_routed"),
        sum(col("n_base")).as("n_cand_base"),
        sum(col("n_base") + col("n_delta")).as("n_cand_grown"),
        sum(col("n_delta")).as("cand_growth"),
        sum(when(col("action") === "rebuild", 1L).otherwise(0L)).as("n_routed_rebuild"),
        sum(when(col("action") === "compact", 1L).otherwise(0L)).as("n_routed_compact"))
      .crossJoin(broadcast(tot))
      .select(col("probe_id"), col("n_cells_routed"),
        col("n_cand_base"), col("n_cand_grown"), col("cand_growth"),
        round(col("n_cand_base").cast("double") / col("n_base_corpus"), 6)
          .as("frac_scanned_base"),
        round(col("n_cand_grown").cast("double") / col("n_corpus"), 6)
          .as("frac_scanned_grown"),
        col("n_routed_rebuild"), col("n_routed_compact"))
      .orderBy(col("probe_id"))
  }

  /** a29: embedding INTEGRITY audit (round 12) — the QA gate an
    * embedding pipeline runs before anything indexes its output:
    * upstream failures ship as NaN components, all-zero vectors
    * (failed encoder calls), silently duplicated rows, or mixed
    * dimensionality — and every one of them poisons cosine math or
    * recall silently. One row: vector/dimension census, NaN and
    * zero-vector counts, exact duplicate-vector rate (whole-array
    * distinct — doubles compare exactly on both engines), and the
    * norm distribution (min/p50/p99/max over NaN-free vectors via
    * the exact distributed Percentiles; min 0 IS the zero-vec
    * signal). All three failure classes are PLANTED (ids ≥ 100000:
    * a first-component NaN, an all-zero vector, an exact duplicate)
    * so each detector visibly claims its row. One corpus scan +
    * tiny aggregates; the distinct pass shuffles the vectors once —
    * at 100 TB swap the whole-array key for a vector digest, same
    * plan shape. */
  def embedAudit(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val v0 = v.filter(col("vec_id") === 0L).select(col("emb"))
    val corpus = v
      .unionAll(v0.select(lit(100001L).as("vec_id"),
        expr("transform(emb, (x, i) -> CASE WHEN i = 0 THEN CAST('NaN' AS DOUBLE) ELSE x END)").as("emb")))
      .unionAll(v0.select(lit(100002L).as("vec_id"),
        expr("transform(emb, x -> 0.0d)").as("emb")))
      .unionAll(v0.select(lit(100003L).as("vec_id"), col("emb")))
    val per = corpus
      .withColumn("dim", size(col("emb")).cast("long"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
      .withColumn("has_nan", expr("exists(emb, x -> isnan(x))"))
      .localCheckpoint()
    val counts = per.agg(
      count(lit(1)).as("n_vecs"),
      countDistinct(col("dim")).as("n_dims"),
      sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan_vecs"),
      sum(when(!col("has_nan") && col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_vecs"))
    val distinctN = per.select(col("emb")).distinct()
      .agg(count(lit(1)).as("n_distinct"))
    val healthy = per.filter(!col("has_nan"))
    val pct = graft.operators.Percentiles.exact(
        healthy.withColumn("g", lit(1)), "g", "nrm",
        Seq("norm_p50" -> 0.5, "norm_p99" -> 0.99))
      .select(col("norm_p50"), col("norm_p99"))
    val ext = healthy.agg(min(col("nrm")).as("norm_min"), max(col("nrm")).as("norm_max"))
    counts.crossJoin(broadcast(distinctN)).crossJoin(broadcast(pct))
      .crossJoin(broadcast(ext))
      .select(col("n_vecs"), col("n_dims"),
        (col("n_dims") === 1L).as("dim_consistent"),
        col("n_nan_vecs"), col("n_zero_vecs"),
        (col("n_vecs") - col("n_distinct")).as("n_dup_vecs"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_vecs"), 6)
          .as("dup_rate"),
        round(col("norm_min"), 6).as("norm_min"),
        round(col("norm_p50"), 6).as("norm_p50"),
        round(col("norm_p99"), 6).as("norm_p99"),
        round(col("norm_max"), 6).as("norm_max"))
  }

  /** Maximum-inner-product search via the augmentation reduction
    * (Shrivastava & Li / Neyshabur & Srebro): append
    * sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm)
    * and 0 to every probe — then COSINE ranking of the augmented
    * pair equals INNER-PRODUCT ranking of the originals, because
    * every augmented corpus vector has norm exactly M. This is what
    * lets the cosine machinery (a2/a3/a6 buckets, a9/a11 codes)
    * serve recommendation-style dot-product queries unchanged. The
    * Spark side ranks by the augmented cosine with the augmented
    * vector's own MATERIALIZED norm sqrt(dot(aug, aug)) in the
    * denominator — NOT the analytic constant M — so a broken
    * augmentation (wrong M, wrong sqrt term) perturbs the ranking;
    * the oracle ranks by the plain inner product — agreement pins
    * the reduction itself, not just the arithmetic. This is the
    * exact recall BASELINE (one corpus scan per probe batch); a14
    * serves the same ranking through the LSH buckets. */
  def mipsTopK(s: SparkSession, d: String, k: Int = K): DataFrame = {
    val v = vecs(s, d)
    val mx = v.agg(max(col("nrm")).as("m"))
    val probes = hashTopK(v, "probe", NProbes)
      .select(col("vec_id").as("probe_id"),
        concat(col("emb"), array(lit(0.0))).as("p_aug"),
        col("nrm").as("p_nrm"))
    mipsRerank(augmented(v.crossJoin(broadcast(mx)))
      .join(broadcast(probes), col("vec_id") =!= col("probe_id")), k)
  }

  /** The MIPS augmentation of a corpus frame carrying (emb, nrm) and
    * the max corpus norm `m`: `aug` = emb ++ sqrt(m² − nrm²), so every
    * augmented vector has norm m, and its materialized norm `aug_nrm`. */
  private def augmented(v: DataFrame): DataFrame =
    v.withColumn("aug", concat(col("emb"),
        array(sqrt(greatest(col("m") * col("m") - col("nrm") * col("nrm"), lit(0.0))))))
      .withColumn("aug_nrm", graft.functions.Vec.norm(col("aug")))

  /** The MIPS re-rank a13/a14 end in: each candidate pair's inner
    * product `ip` and augmented cosine, then the top `k` per probe by
    * augmented cosine, ties to the smaller vec_id → (probe_id, vec_id,
    * rank, inner_product) by probe and rank. */
  private def mipsRerank(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("aug_cos").desc, col("vec_id"))
    cand
      .withColumn("ip", graft.functions.Vec.dot(col("p_aug"), col("aug")))
      .withColumn("aug_cos", col("ip") / (col("p_nrm") * col("aug_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id"), col("rank"),
        round(col("ip"), 6).as("inner_product"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** MIPS SERVED through the LSH index — the payoff a13 only proves.
    * The corpus is augmented ONCE (append sqrt(M² − ‖x‖²); every
    * augmented vector then has norm exactly M), probes are augmented
    * with a literal 0, and BOTH sides hash through the same 65-dim
    * hyperplanes into sign buckets — so candidate generation is the
    * a2/a6 bucket-equi broadcast hash join (own bucket + Hamming-1
    * expansion), never a per-probe corpus scan. Rerank is the
    * augmented cosine over the materialized augmented norm, which by
    * the reduction equals inner-product order within the candidates.
    * Corpus-side work at 100 TB: one map-side augment+bucket pass
    * (M comes from a 1-row broadcast aggregate attached by an
    * equi-join on a literal key, not a nested-loop product) plus one
    * hash join keyed on the bucket. a13 stays the exact baseline the
    * recall spec measures this against. */
  def mipsLshTopK(s: SparkSession, d: String, geo: AnnGeometry = Geo, k: Int = K): DataFrame =
    mipsServeProbes(mipsCorpusIndex(s, d, geo), mipsProbeVecs(s, d), geo, k)

  /** Augmented-vector width: 64 corpus dims + the norm-completion
    * term appended by the MIPS reduction. */
  private val MipsAugDims = 65

  /** a14's corpus index — the OFFLINE side of the MIPS serve: every
    * vector augmented once (norm exactly M), with its materialized
    * augmented norm and sign bucket. Built batch; reused by the batch
    * ranking and the live probe-stream serve. */
  private[graft] def mipsCorpusIndex(s: SparkSession, d: String,
                                     geo: AnnGeometry = Geo): DataFrame = {
    val v = vecs(s, d)
    // The 1-row max-norm aggregate attaches by an equi-join on a
    // runtime-computed zero key (both sides non-foldable, or Catalyst
    // folds `lit = lit` away and degenerates the join to a nested-loop
    // product) — so the whole serve path stays BroadcastHashJoin.
    val mx = v.agg(max(col("nrm")).as("m"))
      .withColumn("jk", isnull(col("m")).cast("int"))
    augmented(v.withColumn("jk", pmod(col("vec_id"), lit(1L)).cast("int"))
        .join(broadcast(mx), "jk"))
      .withColumn("bucket", lshBucket(col("aug"), geo.planes, MipsAugDims))
      .select(col("vec_id"), col("aug"), col("aug_nrm"), col("bucket"))
  }

  /** The probe set a13/a14/a16 rank (constant-size salted top-k),
    * exposed so the streamed-serve spec feeds the EXACT batch probes
    * through a stream. */
  private[graft] def mipsProbeVecs(s: SparkSession, d: String): DataFrame =
    hashTopK(vecs(s, d), "probe", NProbes)
      .select(col("vec_id").as("probe_id"), col("emb"), col("nrm"))

  /** Serve one probe relation against a prebuilt corpus index: probes
    * augment map-side with a literal 0, hash through the same
    * hyperplane literals, expand to their own + Hamming-1 buckets,
    * bucket-equi join, augmented-cosine rerank, exact top-k per probe.
    *
    * `broadcastIndex = false` (the offline acceptance gate): the
    * constant-size probe set is the broadcast build side and the
    * corpus streams through the join — one corpus pass per probe
    * batch. `broadcastIndex = true` (the live serve): the INDEX is the
    * broadcast side, so an unbounded probe stream flows map-side with
    * no shuffle and no state store — each micro-batch serves
    * independently (the spec drives this through a micro-batch
    * driver, where the per-probe rank window runs on batch data). */
  private[graft] def mipsServeProbes(index: DataFrame, probeVecs: DataFrame,
                                     geo: AnnGeometry = Geo, k: Int = K,
                                     broadcastIndex: Boolean = false): DataFrame = {
    val probes = probeVecs.select(col("probe_id"),
        concat(col("emb"), array(lit(0.0))).as("p_aug"),
        col("nrm").as("p_nrm"))
      .withColumn("p_bucket", lshBucket(col("p_aug"), geo.planes, MipsAugDims))
    val expanded = probes.withColumn("search_bucket",
      explode(array(hamming1(col("p_bucket"), geo.planes): _*)))
    val cond = col("bucket") === col("search_bucket") &&
      col("vec_id") =!= col("probe_id")
    mipsRerank(
      if (broadcastIndex) expanded.join(broadcast(index), cond)
      else index.join(broadcast(expanded), cond), k)
  }

  /** Index-health audit: IVF cell occupancy and balance. A skewed
    * cell map is how an IVF index rots — one hot cell turns every
    * probe touching it back into a near-linear scan — so this is the
    * acceptance query between index build and serve (alongside a8's
    * recall gate). The assignment is the same broadcast-centroid
    * rank-1 pass a3 searches with; the rollup is cells-sized (≪
    * corpus) so the audit costs one scan at any corpus size. */
  def cellStats(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val v = vecs(s, d)
    val perCell = assignCells(v, centroidsOf(v, geo.nCentroids))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val totals = perCell.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_cells"))
    perCell.crossJoin(broadcast(totals))
      .select(col("cell"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(col("n").cast("double") /
          (col("total").cast("double") / col("n_cells")), 6).as("skew"))
      .orderBy(col("cell"))
  }

  /** a16: recall@k of the bucketed MIPS serve path (a14) against the
    * exact reduction baseline (a13), per probe — a8's acceptance gate
    * re-run for inner-product serving. The LEFT join keeps probes the
    * index fully misses (recall 0) in the report; cost is one a13
    * scan + one a14 bucket lookup over the constant-size probe set. */
  def mipsRecallEval(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                     k: Int = K): DataFrame = {
    val exact = mipsTopK(s, d, k).select(col("probe_id"), col("vec_id"))
    val served = mipsLshTopK(s, d, geo, k)
      .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
    recallOf(exact, served)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a22_compact_policy" -> ((s, d) => compactPolicy(s, d)),
    "a21_opq_rotate" -> ((s, d) => opqRotated(s, d)),
    "a20_index_drift" -> ((s, d) => indexDrift(s, d)),
    "a19_pq_balance" -> ((s, d) => pqBalanced(s, d)),
    "a18_ivf_pq_serve" -> ((s, d) => ivfPqServe(s, d)),
    "a17_residual_pq" -> ((s, d) => residualPqCodes(s, d)),
    "a16_mips_recall" -> ((s, d) => mipsRecallEval(s, d)),
    "a15_ivf_iterate" -> ((s, d) => ivfRefineIterated(s, d)),
    "a14_mips_lsh" -> ((s, d) => mipsLshTopK(s, d)),
    "a13_mips_topk" -> ((s, d) => mipsTopK(s, d)),
    "a12_pq_codes" -> ((s, d) => pqCodes(s, d)),
    "a11_quantized_recall" -> ((s, d) => quantizedRecall(s, d)),
    "a10_cell_stats" -> ((s, d) => cellStats(s, d)),
    "a9_quantize_int8" -> ((s, d) => quantizeInt8(s, d)),
    "a7_range_search" -> ((s, d) => rangeSearch(s, d)),
    "a8_recall_eval" -> ((s, d) => recallEval(s, d)),
    "a1_knn_brute" -> ((s, d) => bruteKnn(s, d)),
    "a2_knn_lsh" -> ((s, d) => lshKnn(s, d)),
    "a3_ivf_knn" -> ((s, d) => ivfKnn(s, d)),
    "a6_knn_multiprobe" -> ((s, d) => multiProbeKnn(s, d)),
    "a5_ivf_refine" -> ((s, d) => ivfRefine(s, d)),
    "a4_cross_label_nn" -> ((s, d) => crossLabelNN(s, d)),
    "a23_filtered_knn" -> ((s, d) => filteredKnn(s, d)),
    "a24_nprobe_sweep" -> ((s, d) => nprobeSweep(s, d)),
    "a25_nprobe_decide" -> ((s, d) => nprobeDecide(s, d)),
    "a26_adaptive_nprobe" -> ((s, d) => adaptiveNprobe(s, d)),
    "a27_opq_serve" -> ((s, d) => opqServeGain(s, d)),
    "a28_serve_cost" -> ((s, d) => serveCost(s, d)),
    "a29_embed_audit" -> ((s, d) => embedAudit(s, d)),
    "a30_serve_drift" -> ((s, d) => serveDrift(s, d)),
    "a31_compact_exec" -> ((s, d) => compactExec(s, d)),
    "a32_rebuild_exec" -> ((s, d) => rebuildExec(s, d)),
    "a33_residual_rebuild" -> ((s, d) => residualRebuildExec(s, d)),
    "a34_full_retrain" -> ((s, d) => fullRetrainExec(s, d)),
    "a35_maintain_loop" -> ((s, d) => maintainLoop(s, d))
  )

  /** a13's oracle: plain inner-product ranking (shared with a16). */
  private lazy val MipsBruteSql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
       |scored AS (
       |  SELECT p.probe_id, v.vec_id,
       |    list_dot_product(p.p_emb, v.emb) AS ip,
       |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
       |      list_dot_product(p.p_emb, v.emb) DESC, v.vec_id) AS rank
       |  FROM probes p JOIN v ON v.vec_id <> p.probe_id)
       |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank,
       |  round(ip, 6) AS inner_product
       |FROM scored WHERE rank <= $K
       |ORDER BY probe_id, rank""".stripMargin


  /** a14's oracle: the bucketed serve path mirrored (shared with a16). */
  private lazy val MipsLshSql = {
    val flips = (0 until Geo.planes).map(i => flipSql(Seq(i), Geo.planes)).mkString(", ")
    val nrm2 = "sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(emb, emb))"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |mx AS (SELECT max(sqrt(list_dot_product(emb, emb))) AS m FROM v),
       |augv AS (
       |  SELECT vec_id,
       |    list_append(emb, sqrt(greatest(m * m - $nrm2, 0.0))) AS aug
       |  FROM v, mx),
       |augb AS (
       |  SELECT vec_id, aug, ${lshBucketSql("aug", Geo.planes, 65)} AS bucket
       |  FROM augv),
       |p AS (SELECT vec_id AS probe_id, list_append(emb, 0.0) AS p_aug,
       |    sqrt(list_dot_product(emb, emb)) AS p_nrm
       |  FROM v $probeSel),
       |pb AS (
       |  SELECT probe_id, p_aug, p_nrm,
       |    ${lshBucketSql("p_aug", Geo.planes, 65)} AS bucket
       |  FROM p),
       |expanded AS (
       |  SELECT probe_id, p_aug, p_nrm, unnest([bucket, $flips]) AS search_bucket
       |  FROM pb),
       |scored AS (
       |  SELECT e.probe_id, a.vec_id,
       |    list_dot_product(e.p_aug, a.aug) AS ip,
       |    row_number() OVER (PARTITION BY e.probe_id ORDER BY
       |      list_dot_product(e.p_aug, a.aug) /
       |        (e.p_nrm * sqrt(list_dot_product(a.aug, a.aug))) DESC,
       |      a.vec_id) AS rank
       |  FROM expanded e JOIN augb a
       |    ON a.bucket = e.search_bucket AND a.vec_id <> e.probe_id)
       |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank,
       |  round(ip, 6) AS inner_product
       |FROM scored WHERE rank <= $K
       |ORDER BY probe_id, rank""".stripMargin

  }

  /** a24's sweep as reusable SQL parts: the CTE chain (through `per`)
    * and the per-level rollup — a24 publishes the rollup directly;
    * a25 wraps it as one more CTE and layers the decision on top, so
    * the two oracles can never drift apart. */
  private lazy val NprobeSweepCtes =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_dot_product(v.emb, c.c_emb) /
       |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
       |        c.cent_id) AS crank
       |    FROM v, c) t WHERE crank = 1),
       |pc AS (
       |  SELECT probe_id, p_emb, cell, crank FROM (
       |    SELECT v.vec_id AS probe_id, v.emb AS p_emb, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_dot_product(v.emb, c.c_emb) /
       |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
       |        c.cent_id) AS crank
       |    FROM (SELECT * FROM v $probeSel) v, c) t WHERE crank <= 4),
       |lv AS (
       |  SELECT n.np, p.probe_id, p.p_emb, p.cell
       |  FROM pc p JOIN (SELECT unnest([1, 2, 3, 4]) AS np) n ON p.crank <= n.np),
       |cand AS (
       |  SELECT l.np, l.probe_id, a.vec_id,
       |    list_dot_product(l.p_emb, a.emb) /
       |      (sqrt(list_dot_product(l.p_emb, l.p_emb)) * sqrt(list_dot_product(a.emb, a.emb))) AS cosine
       |  FROM lv l JOIN assigned a ON a.cell = l.cell AND a.vec_id <> l.probe_id),
       |approx AS (
       |  SELECT np, probe_id, vec_id FROM (
       |    SELECT np, probe_id, vec_id,
       |      row_number() OVER (PARTITION BY np, probe_id
       |        ORDER BY cosine DESC, vec_id) AS rank
       |    FROM cand) t WHERE rank <= $K),
       |scanned AS (
       |  SELECT np, probe_id, count(*)::BIGINT AS n_cand FROM cand GROUP BY 1, 2),
       |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
       |exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, v.vec_id,
       |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
       |        list_dot_product(p.p_emb, v.emb) /
       |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) DESC,
       |        v.vec_id) AS rank
       |    FROM probes p JOIN v ON v.vec_id <> p.probe_id) t WHERE rank <= $K),
       |per AS (
       |  SELECT n.np, e.probe_id, count(*)::BIGINT AS n_exact,
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM exact e
       |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS np) n
       |  LEFT JOIN approx a
       |    ON a.np = n.np AND a.probe_id = e.probe_id AND a.vec_id = e.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  private lazy val NprobeSweepSelect =
    """SELECT CAST(per.np AS BIGINT) AS np, count(*)::BIGINT AS n_probes,
      |  round(avg(coalesce(s.n_cand, 0)::DOUBLE), 6) AS avg_scanned,
      |  round(avg(per.n_hit::DOUBLE / per.n_exact), 6) AS avg_recall
      |FROM per LEFT JOIN scanned s
      |  ON s.np = per.np AND s.probe_id = per.probe_id
      |GROUP BY per.np""".stripMargin

  def oracle: Map[String, String] = Map(
    // Build-time snapshot seeds, one assignment over everything,
    // conditional per-population aggregates.
    "a20_index_drift" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    vec_id % 7 = 3 AS is_delta
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM v WHERE NOT is_delta),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM b ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, is_delta, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, c.cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) *
         |         sqrt(list_dot_product(c.c_emb, c.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1)
         |SELECT cell,
         |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |  round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS delta_frac,
         |  round(avg(CASE WHEN NOT is_delta THEN c_cos END), 6) AS mean_cos_base,
         |  round(avg(CASE WHEN is_delta THEN c_cos END), 6) AS mean_cos_delta,
         |  round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) > 0.2 AS rebuild
         |FROM assigned
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,

    // a20's per-cell stats re-derived, then the policy arms and the
    // integer-compare global verdict on top.
    "a22_compact_policy" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    vec_id % 7 = 3 AS is_delta
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM v WHERE NOT is_delta),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM b ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, is_delta, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, c.cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) *
         |         sqrt(list_dot_product(c.c_emb, c.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |per_cell AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |      AS delta_frac,
         |    round(coalesce(avg(CASE WHEN NOT is_delta THEN c_cos END)
         |      - avg(CASE WHEN is_delta THEN c_cos END), 0.0), 6) AS cos_gap
         |  FROM assigned GROUP BY cell),
         |acted AS (
         |  SELECT *, CASE
         |    WHEN delta_frac > 0.2 AND cos_gap > 0.05 THEN 'rebuild'
         |    WHEN delta_frac > 0.2 THEN 'compact'
         |    ELSE 'keep' END AS action
         |  FROM per_cell),
         |gv AS (
         |  SELECT
         |    CAST(sum(CASE WHEN action = 'rebuild' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS rebuild_cells,
         |    count(*) AS n_cells,
         |    sum(n_base) AS tb, sum(n_delta) AS td
         |  FROM acted)
         |SELECT a.cell, a.n_base, a.n_delta, a.delta_frac, a.cos_gap, a.action,
         |  g.rebuild_cells,
         |  round(g.td::DOUBLE / (g.tb + g.td), 6) AS global_delta_frac,
         |  (g.rebuild_cells * 4 > g.n_cells OR g.td * 2 > g.tb + g.td)
         |    AS rebuild_index
         |FROM acted a, gv g
         |ORDER BY a.cell""".stripMargin,

    // a22's CTEs through the policy arms, then the ARITHMETIC
    // prediction of what the segment rewrite must produce (a compact
    // cell's delta rows fold into base; keep/rebuild untouched; every
    // cell holds >=1 base row because each centroid assigns to
    // itself, so segs_before is 2 exactly when the cell saw delta).
    // The Spark side physically recounts segments from the rewritten
    // frame — hash agreement proves the rewrite executed the verdict
    // and nothing else.
    "a31_compact_exec" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    vec_id % 4 = 1 AS is_delta
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM v WHERE NOT is_delta),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM b ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, is_delta, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, c.cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) *
         |         sqrt(list_dot_product(c.c_emb, c.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |per_cell AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |      AS delta_frac,
         |    round(coalesce(avg(CASE WHEN NOT is_delta THEN c_cos END)
         |      - avg(CASE WHEN is_delta THEN c_cos END), 0.0), 6) AS cos_gap
         |  FROM assigned GROUP BY cell),
         |acted AS (
         |  SELECT *, CASE
         |    WHEN delta_frac > 0.2 AND cos_gap > 0.05 THEN 'rebuild'
         |    WHEN delta_frac > 0.2 THEN 'compact'
         |    ELSE 'keep' END AS action
         |  FROM per_cell)
         |SELECT cell, n_base, n_delta, action,
         |  CAST(CASE WHEN n_delta > 0 THEN 2 ELSE 1 END AS BIGINT) AS segs_before,
         |  CAST(CASE WHEN action = 'compact' OR n_delta = 0 THEN 1 ELSE 2 END
         |    AS BIGINT) AS segs_after,
         |  CAST(CASE WHEN action = 'compact' THEN 0 ELSE n_delta END
         |    AS BIGINT) AS delta_rows_after,
         |  CAST(CASE WHEN action = 'compact' THEN n_delta ELSE 0 END
         |    AS BIGINT) AS merged_rows
         |FROM acted
         |ORDER BY cell""".stripMargin,

    // Independent re-derivation of the retrain arithmetic: same
    // 1-in-4 split and assignment as a31, the order = top-3 cells by
    // delta share (ties by cell), then ONE Lloyd step re-derived from
    // scratch — element-wise member means per flagged cell, members
    // re-dispatched among the NEW centroids (argmax cosine, ties by
    // cell), untouched members passed through — and the after-state
    // recounted. Agreement proves the executor retrained exactly the
    // ordered cells: new centroids from the right members, the right
    // members moved (or stayed), segments folded to base, keep cells
    // byte-level identical (their recounted mean cosine equals the
    // before value only if neither membership nor centroid changed).
    "a32_rebuild_exec" -> {
      // the Gram-Schmidt chain, one CTE per centroid rank — the
      // drift construction the Spark side runs as 11 one-row joins
      val gsChain = (1 to Geo.nCentroids).map { k =>
        val prev = if (k == 1) "g0" else s"g${k - 1}"
        s"""g$k AS (
           |  SELECT list_transform(generate_series(1, 64),
           |    i -> p.d[i] - (list_dot_product(p.d, c.c_emb) /
           |      list_dot_product(c.c_emb, c.c_emb)) * c.c_emb[i]) AS d
           |  FROM $prev p, (SELECT c_emb FROM csr WHERE rk = $k) c)"""
          .stripMargin
      }.mkString(",\n")
      val driftLit = DriftSeedDir.map(x => s"$x").mkString("[", ", ", "]")
      s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b0 AS (SELECT vec_id, emb FROM v0 WHERE vec_id % 4 <> 1),
         |csr AS (SELECT vec_id AS cell, emb AS c_emb,
         |    row_number() OVER (ORDER BY md5('cent|' || vec_id::VARCHAR), vec_id) AS rk
         |  FROM b0 ${centSel(Geo.nCentroids)}),
         |g0 AS (SELECT $driftLit::DOUBLE[] AS d),
         |$gsChain,
         |drift AS (
         |  SELECT list_transform(generate_series(1, 64),
         |    i -> g.d[i] / sqrt(list_dot_product(g.d, g.d))
         |       + 0.05 * c.c_emb[i] / sqrt(list_dot_product(c.c_emb, c.c_emb))) AS d
         |  FROM g${Geo.nCentroids} g, (SELECT c_emb FROM csr WHERE rk = 1) c),
         |v AS (
         |  SELECT vec_id, emb, vec_id % 4 = 1 AS is_delta FROM v0
         |  UNION ALL
         |  SELECT o.vec_id + (SELECT max(vec_id) + 1 FROM v0), dr.d, true
         |  FROM v0 o, drift dr WHERE o.vec_id % 9 = 1),
         |cs AS (SELECT cell, c_emb FROM csr),
         |assigned AS (
         |  SELECT vec_id, is_delta, emb, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, v.emb, c.cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) *
         |         sqrt(list_dot_product(c.c_emb, c.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |before_t AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |      AS delta_frac,
         |    round(coalesce(
         |      sum(CASE WHEN NOT is_delta THEN c_cos ELSE 0 END)
         |        / nullif(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END), 0)
         |      - sum(CASE WHEN is_delta THEN c_cos ELSE 0 END)
         |        / nullif(sum(CASE WHEN is_delta THEN 1 ELSE 0 END), 0),
         |      0.0), 6) AS cos_gap,
         |    avg(c_cos) AS mcb
         |  FROM assigned GROUP BY cell),
         |acted AS (
         |  SELECT *, CASE
         |    WHEN delta_frac > 0.2 AND cos_gap > 0.05 THEN 'rebuild'
         |    WHEN delta_frac > 0.2 THEN 'compact'
         |    ELSE 'keep' END AS action
         |  FROM before_t),
         |flagged AS (SELECT cell FROM acted WHERE action = 'rebuild'),
         |members AS (
         |  SELECT a.vec_id, a.emb, a.cell FROM assigned a
         |  JOIN flagged f USING (cell)),
         |meansx AS (
         |  SELECT m.cell, t.i, avg(m.emb[t.i]) AS mu
         |  FROM members m, unnest(generate_series(1, len(m.emb))) AS t(i)
         |  GROUP BY m.cell, t.i),
         |newcents AS (
         |  SELECT cell, list(mu ORDER BY i) AS c_emb FROM meansx GROUP BY cell),
         |reass AS (
         |  SELECT vec_id, cell, c_cos FROM (
         |    SELECT m.vec_id, n.cell,
         |      list_dot_product(m.emb, n.c_emb) /
         |        (sqrt(list_dot_product(m.emb, m.emb)) *
         |         sqrt(list_dot_product(n.c_emb, n.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
         |        list_dot_product(m.emb, n.c_emb) /
         |          (sqrt(list_dot_product(m.emb, m.emb)) *
         |           sqrt(list_dot_product(n.c_emb, n.c_emb))) DESC,
         |        n.cell) AS crank
         |    FROM members m, newcents n) t WHERE crank = 1),
         |after_t AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_after,
         |    CAST(count(DISTINCT seg) AS BIGINT) AS segs_after,
         |    avg(c_cos) AS mca
         |  FROM (
         |    SELECT a.vec_id, a.cell, a.c_cos,
         |      CASE WHEN a.is_delta THEN 1 ELSE 0 END AS seg
         |    FROM assigned a ANTI JOIN flagged f USING (cell)
         |    UNION ALL
         |    SELECT vec_id, cell, c_cos, 0 FROM reass)
         |  GROUP BY cell)
         |SELECT a.cell, a.n_base, a.n_delta, a.action,
         |  coalesce(t.n_after, 0) AS n_after,
         |  coalesce(t.segs_after, 0) AS segs_after,
         |  round(a.mcb, 6) AS mean_cos_before,
         |  round(t.mca, 6) AS mean_cos_after,
         |  round(t.mca - a.mcb, 6) + 0.0 AS cos_gain
         |FROM acted a LEFT JOIN after_t t USING (cell)
         |ORDER BY a.cell""".stripMargin
    },

    // a35: the composed loop re-derived from scratch — a32's drift
    // construction and assignment, the monitor's store algebra as ONE
    // grouped sum (the Spark side folds two compactStatsStep batches;
    // agreement is the step's associativity, hash-checked), a22's
    // policy arms INCLUDING the global escalation columns, a31's
    // compact fold and a32's Lloyd step composed into one after-state,
    // then a3's serve (route on the AFTER centroids, exact-cosine
    // top-K in routed cells) counted per cell. The heavy multi-
    // referenced CTEs are MATERIALIZED (DuckDB inlines repeated CTE
    // references by default — the d22 lesson).
    "a35_maintain_loop" -> {
      val gsChain = (1 to Geo.nCentroids).map { k =>
        val prev = if (k == 1) "g0" else s"g${k - 1}"
        s"""g$k AS (
           |  SELECT list_transform(generate_series(1, 64),
           |    i -> p.d[i] - (list_dot_product(p.d, c.c_emb) /
           |      list_dot_product(c.c_emb, c.c_emb)) * c.c_emb[i]) AS d
           |  FROM $prev p, (SELECT c_emb FROM csr WHERE rk = $k) c)"""
          .stripMargin
      }.mkString(",\n")
      val driftLit = DriftSeedDir.map(x => s"$x").mkString("[", ", ", "]")
      def cosSql(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
      s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b0 AS (SELECT vec_id, emb FROM v0 WHERE vec_id % 4 <> 1),
         |csr AS MATERIALIZED (SELECT vec_id AS cell, emb AS c_emb,
         |    row_number() OVER (ORDER BY md5('cent|' || vec_id::VARCHAR), vec_id) AS rk
         |  FROM b0 ${centSel(Geo.nCentroids)}),
         |g0 AS (SELECT $driftLit::DOUBLE[] AS d),
         |$gsChain,
         |drift AS (
         |  SELECT list_transform(generate_series(1, 64),
         |    i -> g.d[i] / sqrt(list_dot_product(g.d, g.d))
         |       + 0.05 * c.c_emb[i] / sqrt(list_dot_product(c.c_emb, c.c_emb))) AS d
         |  FROM g${Geo.nCentroids} g, (SELECT c_emb FROM csr WHERE rk = 1) c),
         |v AS (
         |  SELECT vec_id, emb, vec_id % 4 = 1 AS is_delta FROM v0
         |  UNION ALL
         |  SELECT o.vec_id + (SELECT max(vec_id) + 1 FROM v0), dr.d, true
         |  FROM v0 o, drift dr WHERE o.vec_id % 9 = 1),
         |cs AS (SELECT cell, c_emb FROM csr),
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, is_delta, emb, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, v.emb, c.cell,
         |      ${cosSql("v.emb", "c.c_emb")} AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${cosSql("v.emb", "c.c_emb")} DESC, c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |before_t AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |      AS delta_frac,
         |    round(coalesce(
         |      sum(CASE WHEN NOT is_delta THEN c_cos ELSE 0 END)
         |        / nullif(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END), 0)
         |      - sum(CASE WHEN is_delta THEN c_cos ELSE 0 END)
         |        / nullif(sum(CASE WHEN is_delta THEN 1 ELSE 0 END), 0),
         |      0.0), 6) AS cos_gap,
         |    CAST(count(DISTINCT CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
         |      AS segs_before,
         |    avg(c_cos) AS mcb
         |  FROM assigned GROUP BY cell),
         |acted AS MATERIALIZED (
         |  SELECT *, CASE
         |    WHEN delta_frac > 0.2 AND cos_gap > 0.05 THEN 'rebuild'
         |    WHEN delta_frac > 0.2 THEN 'compact'
         |    ELSE 'keep' END AS action
         |  FROM before_t),
         |gv AS (
         |  SELECT
         |    CAST(sum(CASE WHEN action = 'rebuild' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS rebuild_cells,
         |    count(*) AS n_cells,
         |    sum(n_base) AS tb, sum(n_delta) AS td
         |  FROM acted),
         |flagged AS (SELECT cell FROM acted WHERE action = 'rebuild'),
         |members AS MATERIALIZED (
         |  SELECT a.vec_id, a.emb, a.cell FROM assigned a
         |  JOIN flagged f USING (cell)),
         |meansx AS (
         |  SELECT m.cell, t.i, avg(m.emb[t.i]) AS mu
         |  FROM members m, unnest(generate_series(1, len(m.emb))) AS t(i)
         |  GROUP BY m.cell, t.i),
         |newcents AS (
         |  SELECT cell, list(mu ORDER BY i) AS c_emb FROM meansx GROUP BY cell),
         |reass AS (
         |  SELECT vec_id, emb, cell, c_cos FROM (
         |    SELECT m.vec_id, m.emb, n.cell,
         |      ${cosSql("m.emb", "n.c_emb")} AS c_cos,
         |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
         |        ${cosSql("m.emb", "n.c_emb")} DESC, n.cell) AS crank
         |    FROM members m, newcents n) t WHERE crank = 1),
         |after_members AS MATERIALIZED (
         |  SELECT a.vec_id, a.emb, a.cell,
         |    CASE WHEN p.action = 'compact' THEN 0
         |         WHEN a.is_delta THEN 1 ELSE 0 END AS seg,
         |    a.c_cos
         |  FROM assigned a JOIN acted p USING (cell) WHERE p.action <> 'rebuild'
         |  UNION ALL
         |  SELECT vec_id, emb, cell, 0, c_cos FROM reass),
         |after_t AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_after,
         |    CAST(count(DISTINCT seg) AS BIGINT) AS segs_after,
         |    avg(c_cos) AS mca
         |  FROM after_members GROUP BY cell),
         |cents_after AS MATERIALIZED (
         |  SELECT cell, c_emb FROM newcents
         |  UNION ALL
         |  SELECT c.cell, c.c_emb FROM cs c ANTI JOIN flagged f USING (cell)),
         |probes AS (
         |  SELECT vec_id AS probe_id, emb AS p_emb
         |  FROM (SELECT * FROM b0 $probeSel) t),
         |routes AS (
         |  SELECT probe_id, p_emb, cell FROM (
         |    SELECT p.probe_id, p.p_emb, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        ${cosSql("p.p_emb", "c.c_emb")} DESC, c.cell) AS r
         |    FROM probes p, cents_after c) t WHERE r <= ${Geo.nProbe}),
         |served AS (
         |  SELECT cell FROM (
         |    SELECT r.probe_id, m.vec_id, m.cell,
         |      row_number() OVER (PARTITION BY r.probe_id ORDER BY
         |        ${cosSql("r.p_emb", "m.emb")} DESC, m.vec_id) AS rank
         |    FROM routes r JOIN after_members m
         |      ON m.cell = r.cell AND m.vec_id <> r.probe_id) t
         |  WHERE rank <= $K),
         |sh AS (SELECT cell, count(*)::BIGINT AS served_hits FROM served GROUP BY cell)
         |SELECT a.cell, a.n_base, a.n_delta, a.delta_frac, a.cos_gap, a.action,
         |  g.rebuild_cells,
         |  round(g.td::DOUBLE / (g.tb + g.td), 6) AS global_delta_frac,
         |  (g.rebuild_cells * 4 > g.n_cells OR g.td * 2 > g.tb + g.td)
         |    AS rebuild_index,
         |  a.segs_before,
         |  coalesce(t.segs_after, 0) AS segs_after,
         |  coalesce(t.n_after, 0) AS n_after,
         |  round(a.mcb, 6) AS mean_cos_before,
         |  round(t.mca, 6) AS mean_cos_after,
         |  round(t.mca - a.mcb, 6) + 0.0 AS cos_gain,
         |  coalesce(s.served_hits, 0) AS served_hits
         |FROM acted a
         |CROSS JOIN gv g
         |LEFT JOIN after_t t USING (cell)
         |LEFT JOIN sh s USING (cell)
         |ORDER BY a.cell""".stripMargin
    },

    // Independent re-derivation of the residual re-code arm: the same
    // lifecycle state and Lloyd step as a32's oracle, plus the a17
    // residual coding on BOTH sides of the move — codes against the
    // build-time centroids, the ordered retrain, then codes against
    // the moved centroids for exactly the flagged members. Agreement
    // pins that the executor re-coded the ordered cells and nothing
    // else (untouched cells' recount must read their before error).
    "a33_residual_rebuild" -> {
      val hi = PqM - 1
      val sd = PqSubDim
      def codeDist(sv: String, cv: String) =
        s"list_dot_product($sv, $sv) - 2.0 * list_dot_product($sv, $cv) + list_dot_product($cv, $cv)"
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    vec_id % 4 = 1 AS is_delta
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM v WHERE NOT is_delta),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM b ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, is_delta, emb, cell FROM (
         |    SELECT v.vec_id, v.is_delta, v.emb, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |resid_b AS (
         |  SELECT a.vec_id, a.cell, a.is_delta,
         |    list_transform(generate_series(1, len(a.emb)),
         |      i -> a.emb[i] - c.c_emb[i]) AS remb
         |  FROM assigned a JOIN cs c USING (cell)),
         |rseed AS (
         |  SELECT vec_id, remb FROM resid_b WHERE NOT is_delta
         |  ${hashTopKSql("rcent", Geo.nCentroids)}),
         |rcb AS (
         |  SELECT vec_id AS code_id, m AS sub,
         |    remb[m*$sd+1 : m*$sd+$sd] AS cv
         |  FROM rseed, unnest(generate_series(0, $hi)) AS t(m)),
         |codes_b AS (
         |  SELECT vec_id, sub, code_id, dist FROM (
         |    SELECT r.vec_id, c.sub, c.code_id,
         |      ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY r.vec_id, c.sub ORDER BY
         |        ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")},
         |        c.code_id) AS rr
         |    FROM resid_b r, rcb c) t WHERE rr = 1),
         |before_t AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
         |  FROM assigned GROUP BY cell),
         |acted AS (
         |  SELECT *, CASE WHEN rk <= 3 THEN 'rebuild' ELSE 'keep' END AS action
         |  FROM (SELECT *, row_number() OVER (ORDER BY
         |      n_delta::DOUBLE / (n_base + n_delta) DESC, cell) AS rk
         |    FROM before_t) t),
         |mse_b AS (
         |  SELECT a.cell, avg(k.dist) AS mb
         |  FROM codes_b k JOIN assigned a USING (vec_id) GROUP BY a.cell),
         |flagged AS (SELECT cell FROM acted WHERE action = 'rebuild'),
         |members AS (
         |  SELECT a.vec_id, a.emb, a.cell FROM assigned a
         |  JOIN flagged f USING (cell)),
         |meansx AS (
         |  SELECT m.cell, t.i, avg(m.emb[t.i]) AS mu
         |  FROM members m, unnest(generate_series(1, len(m.emb))) AS t(i)
         |  GROUP BY m.cell, t.i),
         |newcents AS (
         |  SELECT cell, list(mu ORDER BY i) AS c_emb FROM meansx GROUP BY cell),
         |reass AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT m.vec_id, n.cell,
         |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
         |        list_dot_product(m.emb, n.c_emb) /
         |          (sqrt(list_dot_product(m.emb, m.emb)) *
         |           sqrt(list_dot_product(n.c_emb, n.c_emb))) DESC,
         |        n.cell) AS crank
         |    FROM members m, newcents n) t WHERE crank = 1),
         |resid_a AS (
         |  SELECT r.vec_id, r.cell,
         |    list_transform(generate_series(1, len(m.emb)),
         |      i -> m.emb[i] - n.c_emb[i]) AS remb
         |  FROM reass r JOIN members m USING (vec_id)
         |  JOIN newcents n ON r.cell = n.cell),
         |codes_a AS (
         |  SELECT vec_id, cell, sub, code_id, dist FROM (
         |    SELECT r.vec_id, r.cell, c.sub, c.code_id,
         |      ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY r.vec_id, c.sub ORDER BY
         |        ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")},
         |        c.code_id) AS rr
         |    FROM resid_a r, rcb c) t WHERE rr = 1),
         |chg AS (
         |  SELECT a.vec_id,
         |    max(CASE WHEN a.code_id <> b.code_id THEN 1 ELSE 0 END) AS chg
         |  FROM codes_a a JOIN codes_b b
         |    ON a.vec_id = b.vec_id AND a.sub = b.sub
         |  GROUP BY a.vec_id),
         |flag_roll AS (
         |  SELECT k.cell, avg(k.dist) AS ma,
         |    CAST(count(DISTINCT CASE WHEN g.chg = 1 THEN k.vec_id END)
         |      AS BIGINT) AS n_recoded
         |  FROM codes_a k JOIN chg g USING (vec_id)
         |  GROUP BY k.cell),
         |untouched_roll AS (
         |  SELECT a.cell, avg(k.dist) AS ma, CAST(0 AS BIGINT) AS n_recoded
         |  FROM codes_b k
         |  JOIN assigned a USING (vec_id)
         |  ANTI JOIN reass r ON k.vec_id = r.vec_id
         |  GROUP BY a.cell),
         |after_roll AS (
         |  SELECT * FROM flag_roll UNION ALL SELECT * FROM untouched_roll),
         |counts AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_after FROM (
         |    SELECT a.vec_id, a.cell FROM assigned a
         |    ANTI JOIN flagged f USING (cell)
         |    UNION ALL SELECT vec_id, cell FROM reass)
         |  GROUP BY cell)
         |SELECT a.cell, a.n_base, a.n_delta, a.action,
         |  coalesce(c.n_after, 0) AS n_after,
         |  coalesce(t.n_recoded, 0) AS n_recoded,
         |  round(m.mb, 6) AS mse_before,
         |  round(t.ma, 6) AS mse_after
         |FROM acted a
         |LEFT JOIN mse_b m USING (cell)
         |LEFT JOIN counts c USING (cell)
         |LEFT JOIN after_roll t USING (cell)
         |ORDER BY a.cell""".stripMargin
    },

    // Independent re-derivation of the FULL retrain: the a32 drift
    // fixture, the build-time residual book (base-seeded), one
    // corpus-wide Lloyd step, the post-retrain codebook RE-SEED and
    // both coding passes — all from scratch. Agreement pins that the
    // executor re-centered every cell from its members, re-dispatched
    // the whole corpus, and re-seeded/re-coded against the population
    // the index serves today.
    "a34_full_retrain" -> {
      val gsChain = (1 to Geo.nCentroids).map { k =>
        val prev = if (k == 1) "g0" else s"g${k - 1}"
        s"""g$k AS (
           |  SELECT list_transform(generate_series(1, 64),
           |    i -> p.d[i] - (list_dot_product(p.d, c.c_emb) /
           |      list_dot_product(c.c_emb, c.c_emb)) * c.c_emb[i]) AS d
           |  FROM $prev p, (SELECT c_emb FROM csr WHERE rk = $k) c)"""
          .stripMargin
      }.mkString(",\n")
      val driftLit = DriftSeedDir.map(x => s"$x").mkString("[", ", ", "]")
      val hi = PqM - 1
      val sd = PqSubDim
      def codeDist(sv: String, cv: String) =
        s"list_dot_product($sv, $sv) - 2.0 * list_dot_product($sv, $cv) + list_dot_product($cv, $cv)"
      def cosSql(e: String, c: String) =
        s"""list_dot_product($e, $c) /
           |        (sqrt(list_dot_product($e, $e)) *
           |         sqrt(list_dot_product($c, $c)))""".stripMargin
      s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b0 AS (SELECT vec_id, emb FROM v0 WHERE vec_id % 4 <> 1),
         |csr AS (SELECT vec_id AS cell, emb AS c_emb,
         |    row_number() OVER (ORDER BY md5('cent|' || vec_id::VARCHAR), vec_id) AS rk
         |  FROM b0 ${centSel(Geo.nCentroids)}),
         |g0 AS (SELECT $driftLit::DOUBLE[] AS d),
         |$gsChain,
         |drift AS (
         |  SELECT list_transform(generate_series(1, 64),
         |    i -> g.d[i] / sqrt(list_dot_product(g.d, g.d))
         |       + 0.05 * c.c_emb[i] / sqrt(list_dot_product(c.c_emb, c.c_emb))) AS d
         |  FROM g${Geo.nCentroids} g, (SELECT c_emb FROM csr WHERE rk = 1) c),
         |v AS (
         |  SELECT vec_id, emb, vec_id % 4 = 1 AS is_delta FROM v0
         |  UNION ALL
         |  SELECT o.vec_id + (SELECT max(vec_id) + 1 FROM v0), dr.d, true
         |  FROM v0 o, drift dr WHERE o.vec_id % 9 = 1),
         |cs AS (SELECT cell, c_emb FROM csr),
         |assigned AS (
         |  SELECT vec_id, is_delta, emb, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, v.emb, c.cell,
         |      ${cosSql("v.emb", "c.c_emb")} AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${cosSql("v.emb", "c.c_emb")} DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |resid_b AS (
         |  SELECT a.vec_id, a.cell, a.is_delta,
         |    list_transform(generate_series(1, len(a.emb)),
         |      i -> a.emb[i] - c.c_emb[i]) AS remb
         |  FROM assigned a JOIN cs c USING (cell)),
         |rseed_b AS (
         |  SELECT vec_id, remb FROM resid_b WHERE NOT is_delta
         |  ${hashTopKSql("rcent", Geo.nCentroids)}),
         |rcb_b AS (
         |  SELECT vec_id AS code_id, m AS sub,
         |    remb[m*$sd+1 : m*$sd+$sd] AS cv
         |  FROM rseed_b, unnest(generate_series(0, $hi)) AS t(m)),
         |codes_b AS (
         |  SELECT vec_id, sub, code_id, dist FROM (
         |    SELECT r.vec_id, c.sub, c.code_id,
         |      ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY r.vec_id, c.sub ORDER BY
         |        ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")},
         |        c.code_id) AS rr
         |    FROM resid_b r, rcb_b c) t WHERE rr = 1),
         |before_t AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    avg(c_cos) AS mcb
         |  FROM assigned GROUP BY cell),
         |mse_b AS (
         |  SELECT a.cell, avg(k.dist) AS mb
         |  FROM codes_b k JOIN assigned a USING (vec_id) GROUP BY a.cell),
         |meansx AS (
         |  SELECT a.cell, t.i, avg(a.emb[t.i]) AS mu
         |  FROM assigned a, unnest(generate_series(1, len(a.emb))) AS t(i)
         |  GROUP BY a.cell, t.i),
         |newcents AS (
         |  SELECT cell, list(mu ORDER BY i) AS c_emb FROM meansx GROUP BY cell),
         |reass AS (
         |  SELECT vec_id, cell, c_cos, emb FROM (
         |    SELECT a.vec_id, n.cell, a.emb,
         |      ${cosSql("a.emb", "n.c_emb")} AS c_cos,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        ${cosSql("a.emb", "n.c_emb")} DESC,
         |        n.cell) AS crank
         |    FROM assigned a, newcents n) t WHERE crank = 1),
         |resid_a AS (
         |  SELECT r.vec_id, r.cell,
         |    list_transform(generate_series(1, len(r.emb)),
         |      i -> r.emb[i] - n.c_emb[i]) AS remb
         |  FROM reass r JOIN newcents n USING (cell)),
         |rseed_a AS (
         |  SELECT vec_id, remb FROM resid_a
         |  ${hashTopKSql("rcent", Geo.nCentroids)}),
         |rcb_a AS (
         |  SELECT vec_id AS code_id, m AS sub,
         |    remb[m*$sd+1 : m*$sd+$sd] AS cv
         |  FROM rseed_a, unnest(generate_series(0, $hi)) AS t(m)),
         |codes_a AS (
         |  SELECT vec_id, sub, code_id, dist FROM (
         |    SELECT r.vec_id, c.sub, c.code_id,
         |      ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY r.vec_id, c.sub ORDER BY
         |        ${codeDist(s"r.remb[c.sub*$sd+1 : c.sub*$sd+$sd]", "c.cv")},
         |        c.code_id) AS rr
         |    FROM resid_a r, rcb_a c) t WHERE rr = 1),
         |chg AS (
         |  SELECT a.vec_id,
         |    max(CASE WHEN a.code_id <> b.code_id THEN 1 ELSE 0 END) AS chg
         |  FROM codes_a a JOIN codes_b b
         |    ON a.vec_id = b.vec_id AND a.sub = b.sub
         |  GROUP BY a.vec_id),
         |after_t AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_after, avg(c_cos) AS mca
         |  FROM reass GROUP BY cell),
         |mse_a AS (
         |  SELECT r.cell, avg(k.dist) AS ma
         |  FROM codes_a k JOIN reass r USING (vec_id) GROUP BY r.cell),
         |rec AS (
         |  SELECT r.cell, CAST(sum(g.chg) AS BIGINT) AS n_recoded
         |  FROM chg g JOIN reass r USING (vec_id) GROUP BY r.cell)
         |SELECT b.cell, b.n_base, b.n_delta,
         |  coalesce(a.n_after, 0) AS n_after,
         |  coalesce(rc.n_recoded, 0) AS n_recoded,
         |  round(b.mcb, 6) AS mean_cos_before,
         |  round(a.mca, 6) AS mean_cos_after,
         |  round(a.mca - b.mcb, 6) + 0.0 AS cos_gain,
         |  round(m.mb, 6) AS mse_before,
         |  round(sa.ma, 6) AS mse_after
         |FROM before_t b
         |LEFT JOIN mse_b m USING (cell)
         |LEFT JOIN after_t a USING (cell)
         |LEFT JOIN mse_a sa USING (cell)
         |LEFT JOIN rec rc USING (cell)
         |ORDER BY b.cell""".stripMargin
    },

    // Independent re-derivation of the butterfly round: variance rank,
    // anti-sorted pairing, the 45° Givens combine, then the a19 deal
    // and PQ tail over the rotated coordinates.
    "a21_opq_rotate" -> {
      s"""WITH xs AS (
         |  SELECT vec_id, dim, embedding[(dim + 1)::INTEGER]::DOUBLE AS x
         |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(dim)),
         |st AS (
         |  SELECT dim, round(avg(x * x) - avg(x) * avg(x), 9) AS dvr
         |  FROM xs GROUP BY dim),
         |rk AS (
         |  SELECT s.dim, count(o.dim) AS rk
         |  FROM st s LEFT JOIN st o
         |    ON o.dvr > s.dvr OR (o.dvr = s.dvr AND o.dim < s.dim)
         |  GROUP BY s.dim),
         |nd AS (SELECT count(*) AS nd FROM st),
         |pairs AS (
         |  SELECT dim, least(rk, nd - 1 - rk) AS pair,
         |    rk < nd - 1 - rk AS is_hi, rk = nd - 1 - rk AS solo
         |  FROM rk, nd),
         |rot0 AS (
         |  SELECT x.vec_id, p.pair,
         |    max(CASE WHEN p.is_hi THEN x.x END) AS xh,
         |    max(CASE WHEN NOT p.is_hi AND NOT p.solo THEN x.x END) AS xl,
         |    max(CASE WHEN p.solo THEN x.x END) AS xm,
         |    max(CASE WHEN p.is_hi THEN x.dim END) AS dh,
         |    max(CASE WHEN NOT p.is_hi AND NOT p.solo THEN x.dim END) AS dl,
         |    max(CASE WHEN p.solo THEN x.dim END) AS dm
         |  FROM xs x JOIN pairs p ON x.dim = p.dim
         |  GROUP BY x.vec_id, p.pair),
         |rx AS (
         |  SELECT vec_id, dh AS dim, (xh + xl) / sqrt(2.0) AS x
         |  FROM rot0 WHERE dh IS NOT NULL
         |  UNION ALL
         |  SELECT vec_id, dl AS dim, (xh - xl) / sqrt(2.0) AS x
         |  FROM rot0 WHERE dl IS NOT NULL
         |  UNION ALL
         |  SELECT vec_id, dm AS dim, xm AS x
         |  FROM rot0 WHERE dm IS NOT NULL),
         |rst AS (
         |  SELECT dim, avg(x * x) - avg(x) * avg(x) AS rvar,
         |    round(avg(x * x) - avg(x) * avg(x), 9) AS rvr
         |  FROM rx GROUP BY dim),
         |rrk AS (
         |  SELECT s.dim, s.rvar, count(o.dim) AS rk
         |  FROM rst s LEFT JOIN rst o
         |    ON o.rvr > s.rvr OR (o.rvr = s.rvr AND o.dim < s.dim)
         |  GROUP BY s.dim, s.rvar),
         |alloc AS (SELECT dim, rvar, (rk % $PqM)::INT AS sub FROM rrk),
         |subs AS (
         |  SELECT vec_id, sub, list(x ORDER BY rx.dim) AS sv
         |  FROM rx JOIN alloc ON rx.dim = alloc.dim
         |  GROUP BY vec_id, sub),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cseed AS (SELECT vec_id FROM v ${centSel(Geo.nCentroids)}),
         |cents AS (
         |  SELECT s.vec_id AS cent_id, s.sub, s.sv AS cv
         |  FROM subs s JOIN cseed c ON s.vec_id = c.vec_id),
         |assigned AS (
         |  SELECT vec_id, sub, cent_id, dist FROM (
         |    SELECT s.vec_id, s.sub, c.cent_id,
         |      list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |        + list_dot_product(c.cv, c.cv) AS dist,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |          + list_dot_product(c.cv, c.cv),
         |        c.cent_id) AS r
         |    FROM subs s JOIN cents c ON s.sub = c.sub) t
         |  WHERE r = 1),
         |pv AS (
         |  SELECT sub, count(*)::BIGINT AS n_dims,
         |    round(sum(rvar), 6) AS var_total
         |  FROM alloc GROUP BY sub)
         |SELECT CAST(a.sub AS BIGINT) AS sub, pv.n_dims, pv.var_total,
         |  count(*)::BIGINT AS n_vecs,
         |  CAST(count(DISTINCT a.cent_id) AS BIGINT) AS n_codes_used,
         |  round(avg(a.dist), 6) AS mse
         |FROM assigned a JOIN pv ON a.sub = pv.sub
         |GROUP BY a.sub, pv.n_dims, pv.var_total
         |ORDER BY sub""".stripMargin
    },

    // Variance ranks, round-robin allocation, permuted subvectors,
    // and the codeword argmin re-derived independently. The variance
    // formula is spelled avg(x²)−avg(x)² on BOTH sides (not var_pop)
    // so the engines round identically.
    "a19_pq_balance" -> {
      s"""WITH xs AS (
         |  SELECT vec_id, dim, embedding[(dim + 1)::INTEGER]::DOUBLE AS x
         |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(dim)),
         |st AS (
         |  SELECT dim, avg(x * x) - avg(x) * avg(x) AS dvar,
         |    round(avg(x * x) - avg(x) * avg(x), 9) AS dvr
         |  FROM xs GROUP BY dim),
         |ranked AS (
         |  SELECT s.dim, s.dvar, count(o.dim) AS rk
         |  FROM st s LEFT JOIN st o
         |    ON o.dvr > s.dvr OR (o.dvr = s.dvr AND o.dim < s.dim)
         |  GROUP BY s.dim, s.dvar),
         |alloc AS (SELECT dim, dvar, (rk % $PqM)::INT AS sub FROM ranked),
         |subs AS (
         |  SELECT vec_id, sub, list(x ORDER BY xs.dim) AS sv
         |  FROM xs JOIN alloc ON xs.dim = alloc.dim
         |  GROUP BY vec_id, sub),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cseed AS (SELECT vec_id FROM v ${centSel(Geo.nCentroids)}),
         |cents AS (
         |  SELECT s.vec_id AS cent_id, s.sub, s.sv AS cv
         |  FROM subs s JOIN cseed c ON s.vec_id = c.vec_id),
         |assigned AS (
         |  SELECT vec_id, sub, cent_id, dist FROM (
         |    SELECT s.vec_id, s.sub, c.cent_id,
         |      list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |        + list_dot_product(c.cv, c.cv) AS dist,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |          + list_dot_product(c.cv, c.cv),
         |        c.cent_id) AS r
         |    FROM subs s JOIN cents c ON s.sub = c.sub) t
         |  WHERE r = 1),
         |pv AS (
         |  SELECT sub, count(*)::BIGINT AS n_dims,
         |    round(sum(dvar), 6) AS var_total
         |  FROM alloc GROUP BY sub)
         |SELECT CAST(a.sub AS BIGINT) AS sub, pv.n_dims, pv.var_total,
         |  count(*)::BIGINT AS n_vecs,
         |  CAST(count(DISTINCT a.cent_id) AS BIGINT) AS n_codes_used,
         |  round(avg(a.dist), 6) AS mse
         |FROM assigned a JOIN pv ON a.sub = pv.sub
         |GROUP BY a.sub, pv.n_dims, pv.var_total
         |ORDER BY sub""".stripMargin
    },

    // Independent re-derivation of the full serve path: coarse
    // assignment, code assignment, probe routing, the probe×code ADC
    // table, and the final Σ-of-table-lookups ranking.
    "a18_ivf_pq_serve" -> IvfPqServeSql,

    "a28_serve_cost" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |sizes AS (SELECT cell, count(*) AS n_members FROM assigned GROUP BY cell),
         |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |routes AS (
         |  SELECT probe_id, cell FROM (
         |    SELECT p.probe_id, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, c.c_emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS r
         |    FROM probes p, cs c) t WHERE r <= ${Geo.nProbe}),
         |tot AS (SELECT count(*) AS n_corpus FROM v)
         |SELECT r.probe_id, count(*)::BIGINT AS n_cells_routed,
         |  CAST(sum(s.n_members) - 1 AS BIGINT) AS n_candidates,
         |  CAST((sum(s.n_members) - 1) * $PqM AS BIGINT) AS adc_ops,
         |  round((sum(s.n_members) - 1)::DOUBLE / any_value(t.n_corpus), 6)
         |    AS frac_scanned
         |FROM routes r JOIN sizes s USING (cell) CROSS JOIN tot t
         |GROUP BY r.probe_id
         |ORDER BY r.probe_id""".stripMargin,

    "a29_embed_audit" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |v0 AS (SELECT emb FROM v WHERE vec_id = 0),
        |corpus AS (
        |  SELECT vec_id, emb FROM v
        |  UNION ALL SELECT 100001,
        |    list_transform(emb, (x, i) -> CASE WHEN i = 1 THEN 'nan'::DOUBLE ELSE x END)
        |  FROM v0
        |  UNION ALL SELECT 100002, list_transform(emb, x -> 0.0) FROM v0
        |  UNION ALL SELECT 100003, emb FROM v0),
        |per AS (
        |  SELECT vec_id, emb, len(emb)::BIGINT AS dim,
        |    sqrt(list_dot_product(emb, emb)) AS nrm,
        |    len(list_filter(emb, x -> isnan(x))) > 0 AS has_nan
        |  FROM corpus),
        |counts AS (
        |  SELECT count(*)::BIGINT AS n_vecs,
        |    CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
        |    CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_vecs,
        |    CAST(sum(CASE WHEN NOT has_nan AND nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_vecs
        |  FROM per),
        |dn AS (SELECT count(*) AS n_distinct FROM (SELECT DISTINCT emb FROM per) t),
        |pct AS (
        |  SELECT quantile_cont(nrm, 0.5) AS norm_p50,
        |    quantile_cont(nrm, 0.99) AS norm_p99,
        |    min(nrm) AS norm_min, max(nrm) AS norm_max
        |  FROM per WHERE NOT has_nan)
        |SELECT c.n_vecs, c.n_dims, c.n_dims = 1 AS dim_consistent,
        |  c.n_nan_vecs, c.n_zero_vecs,
        |  CAST(c.n_vecs - d.n_distinct AS BIGINT) AS n_dup_vecs,
        |  round(1.0 - d.n_distinct::DOUBLE / c.n_vecs, 6) AS dup_rate,
        |  round(p.norm_min, 6) AS norm_min, round(p.norm_p50, 6) AS norm_p50,
        |  round(p.norm_p99, 6) AS norm_p99, round(p.norm_max, 6) AS norm_max
        |FROM counts c CROSS JOIN dn d CROSS JOIN pct p""".stripMargin,

    // a30: a22's per-cell policy CTEs (base-only centroids, rounded
    // delta_frac/cos_gap, the same action arms) composed with a28's
    // routing CTE — per probe, the candidate bill against the base
    // index vs the delta-grown one, and the policy state of its
    // routed cells. Candidates are all routed-cell members (no self
    // exclusion — see the Scaladoc), so cand_growth == Σ n_delta over
    // routed cells identically.
    "a30_serve_drift" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    vec_id % 7 = 3 AS is_delta
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb FROM v WHERE NOT is_delta),
         |cs AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM b ${centSel(Geo.nCentroids)}) t),
         |assigned AS (
         |  SELECT vec_id, is_delta, cell, c_cos FROM (
         |    SELECT v.vec_id, v.is_delta, c.cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) *
         |         sqrt(list_dot_product(c.c_emb, c.c_emb))) AS c_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, cs c) t WHERE crank = 1),
         |per_cell AS (
         |  SELECT cell,
         |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    round(sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |      AS delta_frac,
         |    round(coalesce(avg(CASE WHEN NOT is_delta THEN c_cos END)
         |      - avg(CASE WHEN is_delta THEN c_cos END), 0.0), 6) AS cos_gap
         |  FROM assigned GROUP BY cell),
         |acted AS (
         |  SELECT *, CASE
         |    WHEN delta_frac > 0.2 AND cos_gap > 0.05 THEN 'rebuild'
         |    WHEN delta_frac > 0.2 THEN 'compact'
         |    ELSE 'keep' END AS action
         |  FROM per_cell),
         |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |routes AS (
         |  SELECT probe_id, cell FROM (
         |    SELECT p.probe_id, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, c.c_emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS r
         |    FROM probes p, cs c) t WHERE r <= ${Geo.nProbe}),
         |tot AS (SELECT
         |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_base_corpus,
         |  count(*) AS n_corpus FROM v)
         |SELECT r.probe_id, count(*)::BIGINT AS n_cells_routed,
         |  CAST(sum(a.n_base) AS BIGINT) AS n_cand_base,
         |  CAST(sum(a.n_base + a.n_delta) AS BIGINT) AS n_cand_grown,
         |  CAST(sum(a.n_delta) AS BIGINT) AS cand_growth,
         |  round(sum(a.n_base)::DOUBLE / any_value(t.n_base_corpus), 6)
         |    AS frac_scanned_base,
         |  round(sum(a.n_base + a.n_delta)::DOUBLE / any_value(t.n_corpus), 6)
         |    AS frac_scanned_grown,
         |  CAST(sum(CASE WHEN a.action = 'rebuild' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_routed_rebuild,
         |  CAST(sum(CASE WHEN a.action = 'compact' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_routed_compact
         |FROM routes r JOIN acted a USING (cell) CROSS JOIN tot t
         |GROUP BY r.probe_id
         |ORDER BY r.probe_id""".stripMargin,

    "a17_residual_pq" -> {
      val hi = PqM - 1
      val distSql =
        """list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
          |          + list_dot_product(c.cv, c.cv)""".stripMargin
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cell, emb AS c_emb
         |      FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cell) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |resid AS (
         |  SELECT a.vec_id,
         |    list_transform(generate_series(1, 64), i -> a.emb[i] - c.c_emb[i]) AS emb
         |  FROM assigned a JOIN c ON a.cell = c.cell),
         |rseed AS (
         |  SELECT r.vec_id, r.emb FROM resid r
         |  JOIN (SELECT vec_id FROM v ${hashTopKSql("rcent", Geo.nCentroids)}) s
         |    ON r.vec_id = s.vec_id),
         |subs AS (
         |  SELECT vec_id, m AS sub, emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
         |  FROM resid, unnest(generate_series(0, $hi)) AS t(m)),
         |cents AS (
         |  SELECT vec_id AS cent_id, m AS sub,
         |    emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS cv
         |  FROM rseed, unnest(generate_series(0, $hi)) AS t(m)),
         |coded AS (
         |  SELECT vec_id, sub, cent_id, dist FROM (
         |    SELECT s.vec_id, s.sub, c.cent_id,
         |      $distSql AS dist,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        $distSql,
         |        c.cent_id) AS r
         |    FROM subs s JOIN cents c ON s.sub = c.sub) t
         |  WHERE r = 1)
         |SELECT CAST(sub AS BIGINT) AS sub, count(*)::BIGINT AS n_vecs,
         |  CAST(count(DISTINCT cent_id) AS BIGINT) AS n_codes_used,
         |  round(avg(dist), 6) AS mse
         |FROM coded
         |GROUP BY sub
         |ORDER BY sub""".stripMargin
    },

    "a16_mips_recall" ->
      s"""WITH exact AS ($MipsBruteSql),
         |approx AS ($MipsLshSql)
         |SELECT e.probe_id AS probe_id,
         |  count(*) AS n_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
         |GROUP BY e.probe_id
         |ORDER BY e.probe_id""".stripMargin,

    // Unrolled 3-iteration Lloyd chain: assign -> per-cell means ->
    // reassign, stats read from each round's reassignment — the same
    // a0/r1/a1/r2/a2/r3/a3 dataflow the Spark loop builds.
    "a15_ivf_iterate" -> {
      val iters = 3
      def cosSql(c: String) =
        s"""list_dot_product(v.emb, $c.c_emb) /
           |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product($c.c_emb, $c.c_emb)))""".stripMargin
      val ctes = new scala.collection.mutable.StringBuilder
      ctes ++= s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c0 AS (SELECT vec_id AS cell, emb AS c_emb
         |  FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs)""".stripMargin
      def assignCte(name: String, cents: String): String =
        s""",
           |$name AS (
           |  SELECT vec_id, emb, cell, c_cos FROM (
           |    SELECT v.vec_id, v.emb, c.cell,
           |      ${cosSql("c")} AS c_cos,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        ${cosSql("c")} DESC, c.cell) AS crank
           |    FROM v, $cents c) t WHERE crank = 1)""".stripMargin
      def meansCte(name: String, assigned: String): String =
        s""",
           |$name AS (
           |  SELECT cell, list(m ORDER BY pos) AS c_emb FROM (
           |    SELECT cell, i AS pos, avg(emb[i]) AS m
           |    FROM $assigned, generate_series(1, 64) AS g(i)
           |    GROUP BY cell, i) t
           |  GROUP BY cell)""".stripMargin
      ctes ++= assignCte("a0", "c0")
      for (i <- 1 to iters) {
        ctes ++= meansCte(s"r$i", s"a${i - 1}")
        ctes ++= assignCte(s"a$i", s"r$i")
      }
      val stats = (1 to iters).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS iter,
           |  CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
           |  count(*)::BIGINT AS n_vecs,
           |  round(avg(c_cos), 6) AS mean_cos FROM a$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$ctes
         |$stats
         |ORDER BY iter""".stripMargin
    },

    // Mechanical mirror of the bucketed serve path: augment, hash
    // through the same 65-dim planes, Hamming≤1 bucket join, rerank
    // by augmented cosine over the materialized augmented norm. (The
    // REDUCTION itself is pinned by a13, whose oracle ranks by plain
    // inner product with no augmentation at all.)
    "a14_mips_lsh" -> MipsLshSql,

    // ranks by the PLAIN inner product — agreement with the Spark
    // side's augmented-cosine ranking proves the MIPS reduction
    "a13_mips_topk" -> MipsBruteSql,

    "a12_pq_codes" -> {
      val hi = PqM - 1
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |subs AS (
         |  SELECT vec_id, m AS sub, emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
         |  FROM v, unnest(generate_series(0, $hi)) AS t(m)),
         |cseed AS (SELECT vec_id, emb FROM v ${centSel(Geo.nCentroids)}),
         |cents AS (
         |  SELECT vec_id AS cent_id, m AS sub,
         |    emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS cv
         |  FROM cseed, unnest(generate_series(0, $hi)) AS t(m)),
         |assigned AS (
         |  SELECT vec_id, sub, cent_id, dist FROM (
         |    SELECT s.vec_id, s.sub, c.cent_id,
         |      list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |        + list_dot_product(c.cv, c.cv) AS dist,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
         |          + list_dot_product(c.cv, c.cv),
         |        c.cent_id) AS r
         |    FROM subs s JOIN cents c ON s.sub = c.sub) t
         |  WHERE r = 1)
         |SELECT CAST(sub AS BIGINT) AS sub, count(*)::BIGINT AS n_vecs,
         |  CAST(count(DISTINCT cent_id) AS BIGINT) AS n_codes_used,
         |  round(avg(dist), 6) AS mse
         |FROM assigned
         |GROUP BY sub
         |ORDER BY sub""".stripMargin
    },

    "a11_quantized_recall" ->
      s"""WITH xs AS (
         |  SELECT vec_id, dim, embedding[(dim + 1)::INTEGER]::DOUBLE AS x
         |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(dim)),
         |st AS (
         |  SELECT dim, min(x) AS lo, (max(x) - min(x)) / 255.0 AS scale
         |  FROM xs GROUP BY dim),
         |recon AS (
         |  SELECT vec_id,
         |    list(CASE WHEN scale = 0 THEN lo
         |      ELSE lo + least(greatest(round((x - lo) / scale), 0.0), 255.0) * scale END
         |      ORDER BY xs.dim) AS emb
         |  FROM xs JOIN st ON xs.dim = st.dim
         |  GROUP BY vec_id),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |approx AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, r.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, r.emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(r.emb, r.emb))) DESC,
         |        r.vec_id) AS rank
         |    FROM probes p JOIN recon r ON r.vec_id <> p.probe_id) t
         |  WHERE rank <= $K),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, v.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, v.emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(v.emb, v.emb))) DESC,
         |        v.vec_id) AS rank
         |    FROM probes p JOIN v ON v.vec_id <> p.probe_id) t
         |  WHERE rank <= $K)
         |SELECT e.probe_id, count(*)::BIGINT AS n_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
         |GROUP BY e.probe_id
         |ORDER BY e.probe_id""".stripMargin,

    "a10_cell_stats" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, emb AS c_emb
         |      FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) *
         |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |pc AS (SELECT cell, count(*)::BIGINT AS n FROM assigned GROUP BY cell)
         |SELECT cell, n,
         |  round(n::DOUBLE / sum(n) OVER (), 6) AS share,
         |  round(n::DOUBLE / (sum(n) OVER ()::DOUBLE / count(*) OVER ()), 6) AS skew
         |FROM pc
         |ORDER BY cell""".stripMargin,

    "a9_quantize_int8" ->
      """WITH xs AS (
        |  SELECT vec_id, dim, embedding[(dim + 1)::INTEGER]::DOUBLE AS x
        |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(dim)),
        |st AS (
        |  SELECT dim, min(x) AS lo, max(x) AS hi,
        |    (max(x) - min(x)) / 255.0 AS scale
        |  FROM xs GROUP BY dim),
        |q AS (
        |  SELECT xs.dim, x, lo, hi, scale,
        |    CASE WHEN scale = 0 THEN 0.0
        |      ELSE least(greatest(round((x - lo) / scale), 0.0), 255.0) END AS q
        |  FROM xs JOIN st ON xs.dim = st.dim)
        |SELECT CAST(dim AS BIGINT) AS dim, lo, hi, scale,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN q = 0.0 OR q = 255.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_edge,
        |  sum((x - (lo + q * scale)) * (x - (lo + q * scale))) / count(*) AS mse
        |FROM q
        |GROUP BY dim, lo, hi, scale
        |ORDER BY dim""".stripMargin,

    "a7_range_search" -> {
      val flips = (0 until Geo.planes).map(i => flipSql(Seq(i), Geo.planes)).mkString(", ")
      s"""WITH v AS (
         |  SELECT vec_id, emb, ${lshBucketSql("emb", Geo.planes)} AS bucket
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
         |p AS (SELECT vec_id AS probe_id, emb, bucket FROM v $probeSel),
         |expanded AS (
         |  SELECT probe_id, emb, unnest([bucket, $flips]) AS search_bucket
         |  FROM p)
         |SELECT e.probe_id, v.vec_id,
         |  list_dot_product(e.emb, v.emb) /
         |    (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.emb, v.emb))) AS cosine
         |FROM expanded e JOIN v
         |  ON v.bucket = e.search_bucket AND v.vec_id <> e.probe_id
         |WHERE list_dot_product(e.emb, v.emb) /
         |    (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.emb, v.emb))) >= 0.25
         |ORDER BY probe_id, vec_id""".stripMargin
    },

    "a1_knn_brute" -> BruteKnnSql,

    "a2_knn_lsh" -> LshKnnSql,

    // Recall@k joined per probe — a LEFT join so probes the index
    // fully misses still report (recall 0), not vanish.
    "a8_recall_eval" ->
      s"""WITH exact AS ($BruteKnnSql),
         |approx AS ($LshKnnSql)
         |SELECT e.probe_id AS probe_id,
         |  count(*) AS n_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
         |GROUP BY e.probe_id
         |ORDER BY e.probe_id""".stripMargin,

    "a3_ivf_knn" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |probe_cells AS (
         |  SELECT probe_id, p_emb, cell FROM (
         |    SELECT v.vec_id AS probe_id, v.emb AS p_emb, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM (SELECT * FROM v $probeSel) v, c) t WHERE crank <= ${Geo.nProbe}),
         |scored AS (
         |  SELECT p.probe_id, v.vec_id,
         |    list_dot_product(p.p_emb, v.emb) /
         |      (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) AS cosine,
         |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |      list_dot_product(p.p_emb, v.emb) /
         |        (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) DESC,
         |      v.vec_id) AS rank
         |  FROM probe_cells p JOIN assigned v
         |    ON v.cell = p.cell AND v.vec_id <> p.probe_id)
         |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank, cosine
         |FROM scored WHERE rank <= $K
         |ORDER BY probe_id, rank""".stripMargin,

    "a23_filtered_knn" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, emb, label, cell FROM (
         |    SELECT v.vec_id, v.emb, v.label, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |probe_cells AS (
         |  SELECT probe_id, p_emb, p_label, cell FROM (
         |    SELECT v.vec_id AS probe_id, v.emb AS p_emb, v.label AS p_label,
         |      c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM (SELECT * FROM v $probeSel) v, c) t WHERE crank <= ${Geo.nProbe}),
         |scored AS (
         |  SELECT p.probe_id, p.p_label, v.vec_id,
         |    list_dot_product(p.p_emb, v.emb) /
         |      (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) AS cosine,
         |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |      list_dot_product(p.p_emb, v.emb) /
         |        (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) DESC,
         |      v.vec_id) AS rank
         |  FROM probe_cells p JOIN assigned v
         |    ON v.cell = p.cell AND v.vec_id <> p.probe_id
         |   AND v.label = p.p_label)
         |SELECT probe_id, p_label AS label, vec_id, CAST(rank AS INTEGER) AS rank, cosine
         |FROM scored WHERE rank <= $K
         |ORDER BY probe_id, rank""".stripMargin,

    "a24_nprobe_sweep" ->
      s"""$NprobeSweepCtes
         |$NprobeSweepSelect
         |ORDER BY np""".stripMargin,

    // a27: a21's rotation chain + the deal as a dim permutation, then
    // a18's serve chain instantiated twice (prefix-templated CTEs)
    // over the plain and the rotated+permuted corpus; one shared
    // original-space brute ground truth (orthogonal transforms
    // preserve distances).
    "a27_opq_serve" -> {
      val hi = PqM - 1
      def legSql(p: String, src: String, name: String): String = {
        val pSub = s"p.p_emb[c.sub*$PqSubDim+1 : c.sub*$PqSubDim+$PqSubDim]"
        s"""${p}cs AS (SELECT vec_id AS cell, emb AS c_emb
           |  FROM (SELECT * FROM $src ${centSel(Geo.nCentroids)}) t),
           |${p}assigned AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT x.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
           |        list_dot_product(x.emb, c.c_emb) /
           |          (sqrt(list_dot_product(x.emb, x.emb)) *
           |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
           |        c.cell) AS crank
           |    FROM $src x, ${p}cs c) t WHERE crank = 1),
           |${p}subs AS (
           |  SELECT vec_id, m AS sub, emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
           |  FROM $src, unnest(generate_series(0, $hi)) AS t(m)),
           |${p}cseed AS (SELECT vec_id, emb FROM $src ${centSel(Geo.nCentroids)}),
           |${p}cents AS (
           |  SELECT vec_id AS code_id, m AS sub,
           |    emb[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS cv
           |  FROM ${p}cseed, unnest(generate_series(0, $hi)) AS t(m)),
           |${p}codes AS (
           |  SELECT vec_id, sub, code_id, dist FROM (
           |    SELECT s.vec_id, s.sub, c.code_id,
           |      list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
           |        + list_dot_product(c.cv, c.cv) AS dist,
           |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
           |        list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.cv)
           |          + list_dot_product(c.cv, c.cv),
           |        c.code_id) AS r
           |    FROM ${p}subs s JOIN ${p}cents c ON s.sub = c.sub) t
           |  WHERE r = 1),
           |${p}probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM $src $probeSel),
           |${p}routes AS (
           |  SELECT probe_id, cell FROM (
           |    SELECT p.probe_id, c.cell,
           |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
           |        list_dot_product(p.p_emb, c.c_emb) /
           |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
           |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
           |        c.cell) AS r
           |    FROM ${p}probes p, ${p}cs c) t WHERE r <= ${Geo.nProbe}),
           |${p}adc AS (
           |  SELECT p.probe_id, c.sub, c.code_id,
           |    list_dot_product($pSub, $pSub)
           |      - 2.0 * list_dot_product($pSub, c.cv)
           |      + list_dot_product(c.cv, c.cv) AS pdist
           |  FROM ${p}probes p, ${p}cents c),
           |${p}cand AS (
           |  SELECT r.probe_id, a.vec_id
           |  FROM ${p}assigned a JOIN ${p}routes r ON a.cell = r.cell
           |  WHERE a.vec_id <> r.probe_id),
           |${p}scored AS (
           |  SELECT cd.probe_id, cd.vec_id, sum(adc.pdist) AS adc_dist
           |  FROM ${p}cand cd
           |  JOIN ${p}codes k ON cd.vec_id = k.vec_id
           |  JOIN ${p}adc adc ON adc.probe_id = cd.probe_id AND adc.sub = k.sub
           |    AND adc.code_id = k.code_id
           |  GROUP BY cd.probe_id, cd.vec_id),
           |${p}topk AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY probe_id
           |      ORDER BY adc_dist, vec_id) AS rnk FROM ${p}scored) t
           |  WHERE rnk <= $K),
           |${p}per AS (
           |  SELECT e.probe_id, count(*)::BIGINT AS n_exact,
           |    CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           |  FROM exact e LEFT JOIN ${p}topk t
           |    ON t.probe_id = e.probe_id AND t.vec_id = e.vec_id
           |  GROUP BY e.probe_id),
           |${p}roll AS (
           |  SELECT '$name' AS variant, count(*)::BIGINT AS n_probes,
           |    round(avg(n_hit::DOUBLE / n_exact), 6) AS avg_recall,
           |    (SELECT round(avg(dist), 6) FROM ${p}codes) AS q_mse
           |  FROM ${p}per)""".stripMargin
      }
      s"""WITH xs AS (
         |  SELECT vec_id, dim, embedding[(dim + 1)::INTEGER]::DOUBLE AS x
         |  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(dim)),
         |st AS (
         |  SELECT dim, round(avg(x * x) - avg(x) * avg(x), 9) AS dvr
         |  FROM xs GROUP BY dim),
         |rk AS (
         |  SELECT s.dim, count(o.dim) AS rk
         |  FROM st s LEFT JOIN st o
         |    ON o.dvr > s.dvr OR (o.dvr = s.dvr AND o.dim < s.dim)
         |  GROUP BY s.dim),
         |nd AS (SELECT count(*) AS nd FROM st),
         |pairs AS (
         |  SELECT dim, least(rk, nd - 1 - rk) AS pair,
         |    rk < nd - 1 - rk AS is_hi, rk = nd - 1 - rk AS solo
         |  FROM rk, nd),
         |rot0 AS (
         |  SELECT x.vec_id, p.pair,
         |    max(CASE WHEN p.is_hi THEN x.x END) AS xh,
         |    max(CASE WHEN NOT p.is_hi AND NOT p.solo THEN x.x END) AS xl,
         |    max(CASE WHEN p.solo THEN x.x END) AS xm,
         |    max(CASE WHEN p.is_hi THEN x.dim END) AS dh,
         |    max(CASE WHEN NOT p.is_hi AND NOT p.solo THEN x.dim END) AS dl,
         |    max(CASE WHEN p.solo THEN x.dim END) AS dm
         |  FROM xs x JOIN pairs p ON x.dim = p.dim
         |  GROUP BY x.vec_id, p.pair),
         |rx AS (
         |  SELECT vec_id, dh AS dim, (xh + xl) / sqrt(2.0) AS x
         |  FROM rot0 WHERE dh IS NOT NULL
         |  UNION ALL
         |  SELECT vec_id, dl AS dim, (xh - xl) / sqrt(2.0) AS x
         |  FROM rot0 WHERE dl IS NOT NULL
         |  UNION ALL
         |  SELECT vec_id, dm AS dim, xm AS x
         |  FROM rot0 WHERE dm IS NOT NULL),
         |rxa AS (SELECT vec_id, list(x ORDER BY dim) AS emb FROM rx GROUP BY vec_id),
         |rstats AS (
         |  SELECT dim, round(avg(x * x) - avg(x) * avg(x), 9) AS rvr
         |  FROM rx GROUP BY dim),
         |rrk AS (
         |  SELECT s.dim, count(o.dim) AS rk
         |  FROM rstats s LEFT JOIN rstats o
         |    ON o.rvr > s.rvr OR (o.rvr = s.rvr AND o.dim < s.dim)
         |  GROUP BY s.dim),
         |alloc AS (SELECT dim, (rk % $PqM) AS sub FROM rrk),
         |permt AS (SELECT list(dim ORDER BY sub, dim) AS perm FROM alloc),
         |rp AS (
         |  SELECT r.vec_id,
         |    list_transform(p.perm, i -> r.emb[(i + 1)::INTEGER]) AS emb
         |  FROM rxa r, permt p),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |xprobes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, x.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, x.emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |           sqrt(list_dot_product(x.emb, x.emb))) DESC,
         |        x.vec_id) AS rank
         |    FROM xprobes p JOIN v x ON x.vec_id <> p.probe_id) t
         |  WHERE rank <= $K),
         |${legSql("b_", "v", "pq")},
         |${legSql("r_", "rp", "opq")}
         |SELECT * FROM b_roll
         |UNION ALL SELECT * FROM r_roll
         |ORDER BY variant""".stripMargin
    },

    // a26: the sweep's CTE chain with the per-probe margin terciles
    // and a policy dimension (fixed_1..4 + adaptive) instead of the
    // bare np levels; same ntile/tiebreak semantics both engines.
    "a26_adaptive_nprobe" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |pc AS (
         |  SELECT probe_id, p_emb, cell, crank, pc_cos FROM (
         |    SELECT v.vec_id AS probe_id, v.emb AS p_emb, c.cent_id AS cell,
         |      list_dot_product(v.emb, c.c_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) AS pc_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM (SELECT * FROM v $probeSel) v, c) t WHERE crank <= 4),
         |margins AS (
         |  SELECT probe_id,
         |    max(CASE WHEN crank = 1 THEN pc_cos END)
         |      - max(CASE WHEN crank = 2 THEN pc_cos END) AS margin
         |  FROM pc GROUP BY probe_id),
         |npq AS (
         |  SELECT probe_id,
         |    CASE ntile(3) OVER (ORDER BY margin DESC, probe_id)
         |      WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 4 END AS np_q
         |  FROM margins),
         |policies AS (
         |  SELECT probe_id, 'fixed_' || n::VARCHAR AS policy, n AS np
         |  FROM npq, unnest([1, 2, 3, 4]) AS t(n)
         |  UNION ALL
         |  SELECT probe_id, 'adaptive', np_q FROM npq),
         |lv AS (
         |  SELECT po.policy, po.np, p.probe_id, p.p_emb, p.cell
         |  FROM pc p JOIN policies po USING (probe_id) WHERE p.crank <= po.np),
         |cand AS (
         |  SELECT l.policy, l.probe_id, a.vec_id,
         |    list_dot_product(l.p_emb, a.emb) /
         |      (sqrt(list_dot_product(l.p_emb, l.p_emb)) * sqrt(list_dot_product(a.emb, a.emb))) AS cosine
         |  FROM lv l JOIN assigned a ON a.cell = l.cell AND a.vec_id <> l.probe_id),
         |approx AS (
         |  SELECT policy, probe_id, vec_id FROM (
         |    SELECT policy, probe_id, vec_id,
         |      row_number() OVER (PARTITION BY policy, probe_id
         |        ORDER BY cosine DESC, vec_id) AS rank
         |    FROM cand) t WHERE rank <= $K),
         |scanned AS (
         |  SELECT policy, probe_id, count(*)::BIGINT AS n_cand FROM cand GROUP BY 1, 2),
         |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM v $probeSel),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, v.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        list_dot_product(p.p_emb, v.emb) /
         |          (sqrt(list_dot_product(p.p_emb, p.p_emb)) * sqrt(list_dot_product(v.emb, v.emb))) DESC,
         |        v.vec_id) AS rank
         |    FROM probes p JOIN v ON v.vec_id <> p.probe_id) t WHERE rank <= $K),
         |polnames AS (SELECT unnest(['fixed_1', 'fixed_2', 'fixed_3', 'fixed_4',
         |  'adaptive']) AS policy),
         |per AS (
         |  SELECT pn.policy, e.probe_id, count(*)::BIGINT AS n_exact,
         |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM exact e
         |  CROSS JOIN polnames pn
         |  LEFT JOIN approx a
         |    ON a.policy = pn.policy AND a.probe_id = e.probe_id AND a.vec_id = e.vec_id
         |  GROUP BY 1, 2)
         |SELECT per.policy, count(*)::BIGINT AS n_probes,
         |  round(avg(po.np::DOUBLE), 6) AS avg_np,
         |  round(avg(coalesce(s.n_cand, 0)::DOUBLE), 6) AS avg_scanned,
         |  round(avg(per.n_hit::DOUBLE / per.n_exact), 6) AS avg_recall
         |FROM per
         |LEFT JOIN scanned s ON s.policy = per.policy AND s.probe_id = per.probe_id
         |JOIN policies po ON po.policy = per.policy AND po.probe_id = per.probe_id
         |GROUP BY per.policy
         |ORDER BY per.policy""".stripMargin,

    // a25: a24's sweep as a CTE + the decision layer — recall floor
    // 0.85, cost ceiling 0.75 x the widest level's scan cost, chosen =
    // min eligible np, else best within-cost recall (ties -> min np).
    "a25_nprobe_decide" ->
      s"""$NprobeSweepCtes,
         |sweep AS (
         |$NprobeSweepSelect),
         |cap AS (SELECT max(avg_scanned) AS max_scanned FROM sweep),
         |flagged AS (
         |  SELECT s.np, s.n_probes, s.avg_scanned, s.avg_recall,
         |    round(c.max_scanned * 0.75, 6) AS cost_cap,
         |    s.avg_recall >= 0.85 AS meets_recall,
         |    s.avg_scanned <= round(c.max_scanned * 0.75, 6) AS within_cost
         |  FROM sweep s CROSS JOIN cap c),
         |best AS (
         |  SELECT max(avg_recall) AS best_recall FROM flagged WHERE within_cost),
         |choice AS (
         |  SELECT
         |    min(CASE WHEN meets_recall AND within_cost THEN np END) AS elig_np,
         |    min(CASE WHEN within_cost
         |          AND avg_recall = (SELECT best_recall FROM best)
         |        THEN np END) AS fallback_np
         |  FROM flagged)
         |SELECT f.np, f.n_probes, f.avg_scanned, f.avg_recall, f.cost_cap,
         |  f.meets_recall, f.within_cost,
         |  f.np = coalesce(ch.elig_np, ch.fallback_np) AS chosen,
         |  CASE WHEN f.np <> coalesce(ch.elig_np, ch.fallback_np) THEN ''
         |       WHEN ch.elig_np IS NOT NULL THEN 'meets_floor'
         |       ELSE 'best_effort' END AS decision
         |FROM flagged f CROSS JOIN choice ch
         |ORDER BY np""".stripMargin,

    "a6_knn_multiprobe" -> {
      val flips = (0 until Geo.planes).map(i => flipSql(Seq(i), Geo.planes)).mkString(", ")
      s"""WITH v AS (
         |  SELECT vec_id, emb, ${lshBucketSql("emb", Geo.planes)} AS bucket
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) t),
         |p AS (SELECT vec_id AS probe_id, emb, bucket FROM v $probeSel),
         |expanded AS (
         |  SELECT probe_id, emb, unnest([bucket, $flips]) AS search_bucket
         |  FROM p),
         |scored AS (
         |  SELECT e.probe_id, v.vec_id,
         |    list_dot_product(e.emb, v.emb) /
         |      (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.emb, v.emb))) AS cosine,
         |    row_number() OVER (PARTITION BY e.probe_id ORDER BY
         |      list_dot_product(e.emb, v.emb) /
         |        (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.emb, v.emb))) DESC,
         |      v.vec_id) AS rank
         |  FROM expanded e JOIN v
         |    ON v.bucket = e.search_bucket AND v.vec_id <> e.probe_id)
         |SELECT probe_id, vec_id, CAST(rank AS INTEGER) AS rank, cosine
         |FROM scored WHERE rank <= $K
         |ORDER BY probe_id, rank""".stripMargin
    },

    "a5_ivf_refine" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM (SELECT * FROM v ${centSel(Geo.nCentroids)}) cs),
         |assigned AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT v.vec_id, v.emb, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, c.c_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
         |        c.cent_id) AS crank
         |    FROM v, c) t WHERE crank = 1),
         |refined AS (
         |  SELECT cell, list(m ORDER BY pos) AS r_emb FROM (
         |    SELECT cell, i AS pos, avg(emb[i]) AS m
         |    FROM assigned, generate_series(1, 64) AS g(i)
         |    GROUP BY cell, i) t
         |  GROUP BY cell),
         |re AS (
         |  SELECT vec_id, cell, re_cos FROM (
         |    SELECT v.vec_id, r.cell,
         |      list_dot_product(v.emb, r.r_emb) /
         |        (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(r.r_emb, r.r_emb))) AS re_cos,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.emb, r.r_emb) /
         |          (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(r.r_emb, r.r_emb))) DESC,
         |        r.cell) AS rrank
         |    FROM v, refined r) t WHERE rrank = 1)
         |SELECT cell, count(*) AS n_members, avg(re_cos) AS mean_cos
         |FROM re
         |GROUP BY cell
         |ORDER BY cell""".stripMargin,

    // Mirrors crossLabelNN's tiered bucket search exactly: tier 0 =
    // own + Hamming-1 buckets, tier 1 = Hamming-2, rank by (tier,
    // cosine) — so tier 1 only decides probes whose tier-0 buckets
    // hold no cross-label candidate.
    "a4_cross_label_nn" -> {
      val h1 = (0 until Geo.planes).map(i =>
        s"SELECT probe_id, p_label, emb, ${flipSql(Seq(i), Geo.planes)} AS search_bucket, 0 AS tier FROM p")
      val h2 = for { i <- 0 until Geo.planes; j <- i + 1 until Geo.planes }
        yield s"SELECT probe_id, p_label, emb, ${flipSql(Seq(i, j), Geo.planes)} AS search_bucket, 1 AS tier FROM p"
      val expansion =
        (Seq("SELECT probe_id, p_label, emb, bucket AS search_bucket, 0 AS tier FROM p") ++ h1 ++ h2)
          .mkString("\n  UNION ALL\n  ")
      val cosE =
        "list_dot_product(e.emb, v.emb) / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(v.emb, v.emb)))"
      s"""WITH v AS (
         |  SELECT vec_id, label, emb, ${lshBucketSql("emb", Geo.planes)} AS bucket
         |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) t),
         |p AS (SELECT vec_id AS probe_id, label AS p_label, emb, bucket
         |  FROM v $probeSel),
         |expanded AS (
         |  $expansion),
         |scored AS (
         |  SELECT e.probe_id, e.p_label, v.vec_id, v.label, $cosE AS cosine,
         |    row_number() OVER (PARTITION BY e.probe_id
         |      ORDER BY e.tier, $cosE DESC, v.vec_id) AS rank
         |  FROM expanded e JOIN v
         |    ON v.bucket = e.search_bucket AND v.label <> e.p_label)
         |SELECT probe_id, CAST(p_label AS INTEGER) AS p_label, vec_id AS nn_id,
         |  CAST(label AS INTEGER) AS nn_label, cosine
         |FROM scored WHERE rank = 1
         |ORDER BY probe_id""".stripMargin
    }
  )
}
