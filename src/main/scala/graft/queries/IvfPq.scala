package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The IVF-PQ index lifecycle: the [[IvfPqIndex]] artifact, its
  * build (raw and residual layout), save/load, the served-index
  * cache, absorb, compaction, the scoped rebuild, the full retrain,
  * the a18 serve path, and the a31–a35 audits that execute the
  * lifecycle on a delta-grown fixture. Mixed into [[Similarity]],
  * whose shared kernels (assignment, PQ coding, the a22 policy) it
  * calls; every member resolves as `Similarity.<name>`. */
private[queries] trait IvfPq { this: Similarity.type =>

  /** Sentinel for [[ivfPqIndexDelta]]'s `seg`: assign the next free
    * delta generation (max existing + 1) instead of a caller-pinned
    * id. Negative so it can never collide with a real segment. */
  val AutoSeg: Int = -1
  /** [[IvfPqIndex.layout]] values: what the codes frame quantizes. */
  val LayoutRaw = "pq_raw"
  val LayoutResidual = "pq_residual"

  /** The frozen a18 corpus index — the tables a serve path reads and
    * nothing else, five frames: (vec_id → cell, seg), (vec_id, sub →
    * code_id), the coarse centroids, the per-subspace codebook, and
    * the packed per-cell postings (cell, vec_id, codes) the serve
    * scan reads. Built offline in one corpus pass each; batch a18 and
    * the StreamingSpec's live probe stream serve through the SAME
    * tables, so the index is the unit that gets versioned/published,
    * not the query.
    *
    * `postings` holds one row per indexed vector: its cell and its m
    * codes packed in sub order, each code the word's position in its
    * sub's codebook sorted by code_id ([[packedPostings]]). It is
    * carried where it is already known — a loaded artifact's frame,
    * that frame ∪ an absorbed delta, a compaction's passthrough — and
    * None where codes or cells were just (re)computed (a fresh build,
    * a rebuild, a retrain): [[saveIvfPqIndex]] then packs it from the
    * frames it has just written, and an unsaved index packs it from
    * its own frames when served.
    *
    * `assigned.seg` is the SEGMENT id (round 16): 0 = the base
    * posting-list segment written at build time, ≥1 = a delta
    * generation appended by [[ivfPqIndexDelta]] without retraining.
    * Serving ignores it (routing reads only cell); it exists so the
    * artifact records its own fragmentation — the physical state
    * a22's `compact` verdict acts on via [[compactIndex]].
    *
    * `nextSegHint` (round 18; r17 ADVICE #2): the next delta
    * generation id, known WITHOUT a probe when this index was itself
    * produced by an absorb (segId + 1) or a fresh build (1). When
    * present, [[ivfPqIndexDelta]]'s AutoSeg default skips the
    * max(seg) Spark action entirely — so k stacked lazy absorbs cost
    * k assignments, not O(k²) re-executions of the unpersisted build
    * plan, and a loaded artifact pays the probe at most once per
    * lineage. None (the default — loaded or hand-built indexes)
    * falls back to the one-int-column probe.
    *
    * `layout` (round 18; r17 verdict #2) names what the CODES frame
    * quantizes — the property every consumer must agree on:
    *  - [[LayoutRaw]] (a12): codes quantize the raw vector against a
    *    corpus-global codebook. A coarse-geometry retrain cannot
    *    alter any code, so [[rebuildCells]] passes codes through
    *    byte-identical.
    *  - [[LayoutResidual]] (a17, the standard IVF-PQ layout): codes
    *    quantize (vector − assigned cell's centroid) against a
    *    residual-space codebook. Codes now DEPEND on the coarse
    *    geometry: [[rebuildCells]] must re-code retrained cells'
    *    members against the moved centroids, [[ivfPqIndexDelta]]
    *    must code arrivals' residuals, and [[ivfPqServeProbes]]'s
    *    ADC table is keyed per routed CELL (the probe's residual
    *    differs cell by cell). The manifest records the layout so a
    *    serve fleet can never mis-read one layout's codes as the
    *    other's. */
  // one Similarity instance exists, so the equality test's unchecked
  // outer reference is moot
  @annotation.nowarn("msg=outer reference")
  final case class IvfPqIndex(assigned: DataFrame, codes: DataFrame,
                                             cents: DataFrame, codebook: DataFrame,
                                             nextSegHint: Option[Int] = None,
                                             layout: String = LayoutRaw,
                                             postings: Option[DataFrame] = None) {
    /** The centroids and codebook collected to the driver: two jobs
      * per instance, paid by [[loadIvfPqIndex]] for a loaded one. */
    private[graft] lazy val frozen: IvfPqTables =
      new IvfPqTables(cents.collect(), codebook.collect())
    /** (m, subDim) of the frozen codebook ([[pqGeometryOf]]), read by
      * serve and every maintenance path; no job once [[frozen]] is
      * held. */
    def pqGeometry: (Int, Int) = (frozen.m, frozen.subDim)
  }

  private[graft] def ivfPqIndex(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                                m: Int = PqM, subDim: Int = PqSubDim): IvfPqIndex =
    ivfPqIndexOf(vecs(s, d), geo, m, subDim)

  def ivfPqIndexOf(v: DataFrame, geo: AnnGeometry = Geo,
                                  m: Int = PqM, subDim: Int = PqSubDim): IvfPqIndex = {
    val cents = centroidsOf(v, geo.nCentroids)
    val assigned = assignCells(v, cents)
      .select(col("vec_id"), col("cell"), lit(0).as("seg"))
    val (codes, codebook) = rawPq(v, geo.nCentroids, m, subDim)
    // a fresh build is all segment 0, so the first absorb is gen 1 —
    // known without any probe
    IvfPqIndex(assigned, codes.select(col("vec_id"), col("sub"), col("code_id")),
      cents, codebook, nextSegHint = Some(1))
  }

  /** Raw-layout PQ (a12) over (vec_id, emb, …): the codebook seeded
    * by the `nCodes` "cent"-salted rows, and every vector's codes
    * against it (vec_id, sub, code_id, dist). Shared by the build and
    * [[retrainIndex]]'s re-seed. */
  private def rawPq(v: DataFrame, nCodes: Int, m: Int, subDim: Int): (DataFrame, DataFrame) = {
    val seeds = hashTopK(v, "cent", nCodes)
    (pqAssignments(v.select(col("vec_id"), col("emb")), seeds, m, subDim),
      codebookOf(seeds, m, subDim))
  }

  /** Residual-layout PQ (a17) over residual relations (vec_id, emb, …):
    * the codebook seeded by the `nCodes` "rcent"-salted rows of
    * `seedResid` (checkpointed: cells-sized, read by the coding pass
    * and the artifact), and every row of `resid` coded against it
    * (vec_id, sub, code_id, dist). The distinct salt keeps the coarse
    * centroid rows — whose residuals are zero — out of the seeds.
    * Shared by the residual build, [[retrainIndex]]'s re-seed, and
    * a33/a34's build-time book. */
  private def residualPq(resid: DataFrame, seedResid: DataFrame, nCodes: Int,
                         m: Int, subDim: Int): (DataFrame, DataFrame) = {
    val codebook = codebookOf(hashTopK(seedResid, "rcent", nCodes), m, subDim)
      .localCheckpoint()
    (pqAssignSubs(subVecsOf(resid, "vec_id", m, subDim), codebook), codebook)
  }

  /** Build a RESIDUAL-layout index ([[LayoutResidual]]; r17 verdict
    * #2): the a17 composition made a publishable artifact. Coarse
    * cells as [[ivfPqIndexOf]]; codes quantize each member's residual
    * (emb − assigned cell's centroid) against a residual-space
    * codebook seeded from the corpus residuals (distinct "rcent"
    * salt — a17's zero-residual-seed hazard note). Same frame shapes
    * as the raw layout, so save/load/absorb/compact all reuse the
    * machinery; what changes is WHO must re-code when geometry moves
    * (see [[IvfPqIndex.layout]]). Cost: the raw build plus one
    * broadcast-centroid residual pass. */
  def ivfPqResidualIndexOf(v: DataFrame, geo: AnnGeometry = Geo,
                           m: Int = PqM, subDim: Int = PqSubDim): IvfPqIndex = {
    val cents = centroidsOf(v, geo.nCentroids)
    val asg = assignCells(v, cents)
    val assigned = asg.select(col("vec_id"), col("cell"), lit(0).as("seg"))
    // one residual frame feeds BOTH the codebook seeds and the coding
    // pass — checkpointed so neither re-runs the assignment
    val resid = residualsOf(asg.select(col("vec_id"), col("emb"), col("cell")), cents)
      .localCheckpoint()
    val (codes, codebook) = residualPq(resid, resid, geo.nCentroids, m, subDim)
    IvfPqIndex(assigned, codes.select(col("vec_id"), col("sub"), col("code_id")),
      cents, codebook, Some(1), LayoutResidual)
  }

  /** Members' residuals against their cells' centroids: `members`
    * (vec_id, emb, cell, …) with emb replaced by emb − c_emb and cell
    * dropped; any other column passes through. Cents broadcast. */
  private def residualsOf(members: DataFrame, cents: DataFrame): DataFrame =
    members.join(broadcast(cents.select(col("cell"), col("c_emb"))), "cell")
      .withColumn("emb", zip_with(col("emb"), col("c_emb"), (a, b) => a - b))
      .drop("cell", "c_emb")

  /** Residual-code (vec_id, sub, code_id, dist) of `members`
    * (vec_id, emb, cell) against `cents`' centroids and the FROZEN
    * residual `codebook` — the coding kernel shared by the residual
    * build path's delta absorb, [[rebuildCells]]'s re-code arm, and
    * a33's audit. One broadcast-centroid residual pass + the
    * broadcast-codebook argmin; members never shuffle. */
  private[graft] def residualCodes(members: DataFrame, cents: DataFrame,
                                   codebook: DataFrame,
                                   m: Int = PqM, subDim: Int = PqSubDim): DataFrame =
    pqAssignSubs(subVecsOf(residualsOf(members, cents), "vec_id", m, subDim), codebook)

  /** The PQ geometry (m, subDim) an EXISTING codebook was built with —
    * m = number of distinct subspaces, subDim = the code vectors'
    * length. Paths that code or score against a frozen codebook
    * ([[ivfPqServeProbes]], [[ivfPqIndexDelta]], [[rebuildCells]],
    * [[retrainIndex]]) read it through [[IvfPqIndex.pqGeometry]]
    * instead of trusting caller parameters (r18 ADVICE #1:
    * pqAssignSubs inner-joins on `sub`, so a caller-side
    * m mismatch — index built with m=16, maintained with the default
    * 8 — would silently DROP code rows for every touched member, and
    * a serve at the wrong geometry scores sub-vectors against code
    * words of another length; and
    * because the codebook frame is part of the persisted artifact,
    * deriving from it cannot drift from what save/load round-trips,
    * which a separate manifest field could). Derived on the driver
    * from the collected (sub, cv) rows, with no job. */
  private[graft] def pqGeometryOf(codebook: Seq[Row]): (Int, Int) =
    if (codebook.isEmpty) (0, 0)
    else (codebook.map(_.getAs[Int]("sub")).max + 1,
      codebook.map(_.getAs[collection.Seq[Double]]("cv").length).max)

  /** The packed postings (cell, vec_id, codes) of an index's
    * `assigned` (vec_id, cell, …) and `codes` (vec_id, sub, code_id)
    * frames: one row per vector, `codes` its m code words in sub
    * order, each as the word's position in `codeIds(sub)` (the sub's
    * code ids, ascending). One vec_id aggregate over the code rows
    * joined to the assignment. */
  private[graft] def packedPostings(assigned: DataFrame, codes: DataFrame,
                                    codeIds: IndexedSeq[IndexedSeq[Long]]): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array(codeIds.indices.map(sub =>
        max(when(col("sub") === sub,
          array_position(typedLit(codeIds(sub)), col("code_id")) - 1))
          .cast("int")): _*).as("codes"))
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
      .select(col("cell"), col("vec_id"), col("codes"))

  /** Build-ONCE-per-run corpus index, served from the persisted
    * artifact (round 12 — the r10/r11 verdicts' item: acceptance
    * gates were rebuilding the index per query). First caller per
    * (session, corpus dir) builds with [[ivfPqIndex]], WRITES the
    * versioned artifact via [[saveIvfPqIndex]], then re-reads it via
    * [[loadIvfPqIndex]] (manifest-verified) — so every acceptance
    * query (a18 serve, a24/a25/a26 tuning, a27's pq leg) exercises
    * the load path a production serve fleet runs, and a Verify/Bench
    * run pays ONE index build instead of five. The cache key carries
    * the session identity: suites create fresh sessions, and a frame
    * bound to a stopped session must not leak across. */
  private val servedIdxCache =
    new GraftCaches.Published[IvfPqIndex]("graft_ivfpq_", _.cents.sparkSession)
  private[graft] def servedIndexOf(s: SparkSession, cacheKey: String,
                                   v: => DataFrame): IvfPqIndex =
    servedIdxCache(s, cacheKey) { dir =>
      saveIvfPqIndex(ivfPqIndexOf(v), dir)
      loadIvfPqIndex(s, dir)
    }
  private[graft] def servedIndex(s: SparkSession, d: String): IvfPqIndex =
    servedIndexOf(s, new java.io.File(d).getCanonicalPath, vecs(s, d))


  /** Persisted-index format version — bumped on any frame-schema
    * change so a loader can refuse an incompatible artifact by name.
    * v2 (round 16): `assigned` carries the segment id (base 0 /
    * delta generations ≥1) so the artifact records its own
    * fragmentation — the state [[compactIndex]] rewrites.
    * v3 (round 18): the manifest names the code LAYOUT (pq_raw /
    * pq_residual) — a reader that ignored it would serve residual
    * codes through raw-PQ ADC math and silently mis-rank, so the
    * field is REQUIRED and the version bump makes a v2 reader refuse
    * a v3 artifact (and vice versa) by name.
    * v4: a fifth frame, `postings` (cell, vec_id, codes array<int>),
    * the packed per-cell posting lists serving scans, with its row
    * count in the manifest. The other four frames and their counts
    * are unchanged; a v3 artifact has no postings and is refused. */
  val IvfPqFormatVersion = 4

  /** The artifact's frames, in manifest order. */
  private val IvfPqFrames = Seq("assigned", "codes", "cents", "codebook", "postings")

  /** The row count and Spark schema of the parquet frame at `path`,
    * from its part files' footers on the driver — no Spark job, no
    * data read: the count sums the footers' row counts, and the
    * schema is the one Spark recorded in the first footer (None when
    * no footer holds one). */
  private def footerOf(s: SparkSession, path: String): (Long, Option[StructType]) = {
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val footers = dir.getFileSystem(conf).listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try (r.getRecordCount, Option(r.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")))
        finally r.close()
      }
    (footers.map(_._1).sum, footers.headOption.flatMap(_._2)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType]))
  }

  /** Persist a frozen [[IvfPqIndex]] as a versioned directory
    * artifact — the "publishable unit" (SURVEY §2.D) made
    * operational: the five frames as parquet plus `manifest.json`
    * carrying the format version, the artifact's OWN lineage version
    * (`index_version` — bumped by maintenance rewrites like
    * [[compactIndex]], so a serve fleet can tell two states of the
    * same corpus apart), and per-frame row counts. A loader can then
    * refuse an incompatible or truncated artifact with ONE named
    * diagnosis instead of a downstream join silently
    * under-returning. One write per frame; the corpus-sized frames
    * stay partitioned on write. Postings the index does not carry
    * are packed from the assigned, codes and codebook frames just
    * written, so the build's lineage runs once. Every row count comes
    * from the written files' footers ([[footerOf]]), not from a
    * count that would re-run each frame's lineage. */
  def saveIvfPqIndex(ix: IvfPqIndex, dir: String, indexVersion: Long = 1L): Unit = {
    val s = ix.cents.sparkSession
    def put(df: DataFrame, n: String): Unit = df.write.mode("overwrite").parquet(s"$dir/$n")
    def written(df: DataFrame, n: String): DataFrame = s.read.schema(df.schema).parquet(s"$dir/$n")
    put(ix.assigned, "assigned")
    put(ix.codes, "codes")
    put(ix.cents, "cents")
    put(ix.codebook, "codebook")
    put(ix.postings.getOrElse(packedPostings(written(ix.assigned, "assigned"),
      written(ix.codes, "codes"),
      new IvfPqTables(Array.empty, written(ix.codebook, "codebook").collect()).codeIds)),
      "postings")
    val counts = IvfPqFrames.map(n => s""""$n":${footerOf(s, s"$dir/$n")._1}""").mkString(",")
    val m = s"""{"format_version":$IvfPqFormatVersion,"index_version":$indexVersion,"layout":"${ix.layout}",$counts}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/manifest.json"), m)
  }

  /** The artifact's lineage version from its manifest — what a
    * maintenance job reads before writing `indexVersion + 1`.
    * Pre-v2 manifests carried no index_version: default 1. */
  def ivfPqIndexVersion(dir: String): Long = {
    val m = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/manifest.json"))
    """"index_version":(\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong).getOrElse(1L)
  }

  /** Load a persisted [[IvfPqIndex]], verifying the manifest: format
    * version must match and every frame's row count must equal the
    * manifest's. Every frame is opened from its parquet footers on
    * the driver ([[footerOf]]: schema and row count, no job); the
    * corpus-sized frames are counted there, and the centroids and
    * codebook are collected — the tables serving routes and scores
    * with — and counted as collected: two jobs in all. The loaded
    * index carries its postings frame and serves and absorbs deltas
    * identically to the in-memory build — spec-proved. */
  def loadIvfPqIndex(s: SparkSession, dir: String): IvfPqIndex = {
    val m = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/manifest.json"))
    def field(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(m)
        .getOrElse(throw new IllegalStateException(
          s"[graft] IVF-PQ index manifest at $dir missing field '$k': $m"))
        .group(1).toLong
    val ver = field("format_version")
    require(ver == IvfPqFormatVersion,
      s"[graft] IVF-PQ index at $dir has format_version $ver; this build reads $IvfPqFormatVersion")
    val layout = """"layout":"(\w+)"""".r.findFirstMatchIn(m)
      .getOrElse(throw new IllegalStateException(
        s"[graft] IVF-PQ index manifest at $dir missing field 'layout': $m"))
      .group(1)
    require(layout == LayoutRaw || layout == LayoutResidual,
      s"[graft] IVF-PQ index at $dir declares unknown layout '$layout'; this build serves $LayoutRaw and $LayoutResidual")
    def check(n: String, got: Long): Unit =
      require(got == field(n),
        s"[graft] IVF-PQ index frame '$n' at $dir has $got rows; manifest says ${field(n)} — truncated or mixed-version artifact")
    val footers = IvfPqFrames.map(n => n -> footerOf(s, s"$dir/$n")).toMap
    Seq("assigned", "codes", "postings").foreach(n => check(n, footers(n)._1))
    // read with the footers' schema: no inference job (inferred only
    // when a footer carries none)
    val frames = footers.map { case (n, (_, schema)) =>
      n -> schema.fold(s.read)(s.read.schema).parquet(s"$dir/$n")
    }
    val ix = IvfPqIndex(frames("assigned"), frames("codes"), frames("cents"),
      frames("codebook"), layout = layout, postings = Some(frames("postings")))
    check("cents", ix.frozen.nCents)
    check("codebook", ix.frozen.nWords)
    ix
  }

  /** Absorb a delta of new vectors into a FROZEN index without
    * retraining — the between-retrains insert path of an IVF-PQ
    * store: each new vector is assigned to its nearest EXISTING
    * coarse cell and coded against the EXISTING codebooks; centroids
    * and codebooks change only at the next a15-style rebuild. Cost is
    * one pass over the delta (assignment + coding against broadcast
    * tables), independent of the corpus already indexed. Because
    * per-vector assignment is independent and the frozen tables are
    * shared, inserting vectors that were never seed candidates is
    * EXACTLY equivalent to having built the full index at once —
    * the equivalence the spec asserts end-to-end through the serve
    * path. */
  def ivfPqIndexDelta(ix: IvfPqIndex, newVecs: DataFrame,
                                     seg: Int = AutoSeg): IvfPqIndex = {
    // geometry comes from the frozen codebook, never from the caller
    // (r18 ADVICE #1 — see pqGeometryOf): a mismatched m would
    // silently drop sub rows for every arrival through the inner
    // join on `sub`
    val (m, subDim) = ix.pqGeometry
    // `seg` tags this delta generation in the assigned frame. The
    // default AutoSeg assigns max(existing seg) + 1 — real
    // maintenance windows STACK generations between retrains (base +
    // gen 1 + gen 2 + …), and the r16 form's fixed default of 1
    // silently merged a second absorb into the first generation's
    // segment, undercounting fragmentation (r16 verdict #6). The
    // next-gen probe is a single-column max over the assigned frame
    // (int column, parquet-backed on a loaded artifact — column
    // pruned, combines map-side); a caller tracking generations
    // externally still passes seg explicitly and pays no probe.
    // LAZY composition (r17 ADVICE #2, closed): on an index that is
    // an in-memory plan (built and absorbed in one lineage, never
    // persisted), the probe is an action that re-executes that whole
    // plan — k stacked lazy absorbs would cost O(k²) builds. The
    // nextSegHint breaks that: every absorb RETURNS its successor's
    // generation id (segId + 1), so only the FIRST AutoSeg absorb on
    // a hint-less index (loaded artifact: one int-column footer-
    // backed scan; hand-built frame: one plan execution) ever probes.
    val segId =
      if (seg != AutoSeg) seg
      else ix.nextSegHint.getOrElse(
        ix.assigned.agg(coalesce(max(col("seg")), lit(0))).head().getInt(0) + 1)
    // one assignment pass feeds both the posting-list rows and (for
    // the residual layout) the residual coding — checkpoint-free
    // because each branch consumes it exactly once
    val asgNew = assignCells(newVecs, ix.cents)
    val assignedNew = asgNew.select(col("vec_id"), col("cell"), lit(segId).as("seg"))
    // the layout decides WHAT gets coded (IvfPqIndex.layout): raw
    // vectors against the global codebook, or the arrival's residual
    // vs its (frozen) assigned centroid against the residual codebook
    val codesNew =
      if (ix.layout == LayoutResidual)
        residualCodes(asgNew.select(col("vec_id"), col("emb"), col("cell")),
            ix.cents, ix.codebook, m, subDim)
          .select(col("vec_id"), col("sub"), col("code_id"))
      else pqAssignSubs(
          subVecsOf(newVecs.select(col("vec_id"), col("emb")), "vec_id", m, subDim),
          ix.codebook)
        .select(col("vec_id"), col("sub"), col("code_id"))
    // The successor hint is only safe when THIS absorb itself chose
    // the next free generation (AutoSeg): after an explicit-seg
    // absorb below existing generations, segId + 1 could collide
    // with a LIVE generation, and a later AutoSeg absorb trusting
    // the hint would merge two deltas' fragmentation stats — the
    // max(seg)+1 probe can never do that (r18 ADVICE #2). An
    // explicit-seg caller tracks generations externally anyway; it
    // pays one probe if it ever hands the index back to AutoSeg.
    val hint = if (seg == AutoSeg) Some(segId + 1) else None
    // carried postings grow by the arrivals' packed rows; an index
    // that carries none packs all of its rows when saved or served
    val postings = ix.postings.map(_.unionByName(
      packedPostings(assignedNew, codesNew, ix.frozen.codeIds)))
    IvfPqIndex(ix.assigned.unionAll(assignedNew), ix.codes.unionAll(codesNew),
      ix.cents, ix.codebook, hint, ix.layout, postings)
  }

  /** The a31 rewrite kernel: fold delta segments into the base
    * posting-list segment for cells the policy marks `compact`; every
    * other cell's rows pass through untouched (keep = nothing to do,
    * rebuild = awaits an a15 retrain — compaction must not paper over
    * a geometry problem). The vec_id→cell mapping never changes, only
    * seg, which is why serve-after ≡ serve-before is an identity the
    * spec can assert row-for-row. Cost: one pass over the assigned
    * frame against a broadcast cells-sized action table — no vector
    * math, no corpus shuffle. */
  private[graft] def compactAssigned(assigned: DataFrame, policy: DataFrame): DataFrame =
    assigned.join(broadcast(policy.select(col("cell"), col("action"))), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("action") === "compact", lit(0)).otherwise(col("seg")).as("seg"))

  /** Execute the compaction a22 decides — the decide→act seam closed
    * (round 16; r15 verdict #4). a22 labels each cell
    * rebuild/compact/keep and a30 prices the drift per probe, but
    * until this operator nothing APPLIED the verdict to the persisted
    * artifact. Given a (loaded) index and a policy table carrying
    * (cell, action), rewrite `compact` cells' fragmented delta
    * posting-list rows into the base segment; codes, centroids and
    * codebooks are untouched because compaction by definition keeps
    * the geometry (that is the entire content of the compact-vs-
    * rebuild split). The caller republishes with
    * [[saveIvfPqIndex]](..., [[ivfPqIndexVersion]](src) + 1) — the
    * manifest's lineage bump that lets a fleet tell the two states
    * apart. Spec-pinned invariants: serve-after ≡ serve-before
    * row-for-row; compacted cells' delta row count returns to zero
    * (a30's candidate bill on them reads base-level again); keep and
    * rebuild cells' segments are byte-identical; the re-saved
    * artifact still trips every manifest tamper guard. */
  def compactIndex(ix: IvfPqIndex, policy: DataFrame): IvfPqIndex =
    // compaction only LOWERS seg ids (delta → base), so the source's
    // next-generation hint stays valid (generation ids need not be
    // contiguous — they are distinct fragment tags, and a22's
    // fragmentation stats read countDistinct). Layout and postings
    // pass through: compaction never touches geometry, cells or codes
    // in EITHER layout, and postings carry no segment.
    IvfPqIndex(compactAssigned(ix.assigned, policy), ix.codes, ix.cents,
      ix.codebook, ix.nextSegHint, ix.layout, ix.postings)

  /** `iters` Lloyd steps from a given membership — the a15 step shared
    * by the scoped rebuild and the full retrain. Each step re-centres
    * every cell of `cents` (cell, c_emb, c_nrm) on the element-wise
    * mean of its members in `asg` (vec_id, emb, cell, …) — a cell left
    * with no members keeps its previous centroid (cellMeans drops it;
    * the coalesce restores it), so the cell id survives for later
    * arrivals — then re-dispatches `members` (vec_id, emb, nrm) among
    * the new centroids with [[assignCells]]. Each step's centroids are
    * checkpointed (cells × dims) so the lineage does not grow per step.
    * Returns (centroids, assignment); with `iters` = 0, the inputs. */
  private def lloyd(members: DataFrame, asg: DataFrame, cents: DataFrame,
                    iters: Int): (DataFrame, DataFrame) =
    (1 to iters).foldLeft((cents, asg)) { case ((cur, a), _) =>
      val next = cur.as("o").join(cellMeans(a).as("n"), Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n.c_emb"), col("o.c_emb")).as("c_emb"),
          coalesce(col("n.c_nrm"), col("o.c_nrm")).as("c_nrm"))
        .localCheckpoint()
      (next, assignCells(members, next))
    }

  /** The flagged cells' members joined ONCE to their vectors —
    * (vec_id, emb, nrm, cell), checkpointed, so the conservation guard,
    * the seed mean step and the re-dispatch never pay a second
    * member-sized shuffle. `vectors` is the raw corpus relation
    * (vec_id, emb, nrm): PQ codes are lossy, so a retrain reads the
    * base corpus store, exactly as a production rebuild job would. */
  private def flaggedMembers(assigned: DataFrame, flagged: DataFrame,
                             vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("emb"), col("nrm"))
      .join(assigned.join(broadcast(flagged.select(col("cell"))), Seq("cell"))
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
      .localCheckpoint()

  /** The a15 Lloyd retrain SCOPED to an ordered cell set: `flagged` is
    * the cells-sized (cell) relation a maintenance order names,
    * `seeded` its members from [[flaggedMembers]]. `iters` steps of
    * [[lloyd]] over the flagged members only, seeded by the index's
    * own assignment; members can move between flagged cells but never
    * leave the flagged set — the untouched cells' posting lists are
    * the invariant the spec pins byte-identical. Retrained members
    * land in segment 0 — a rebuild IS a retrain, so its posting list
    * is fresh base, folding any delta generations it absorbed.
    *
    * The rewrite is materialized: the returned frames must be
    * immediately SERVABLE, and serving joins assigned⋈cents — two
    * unions sharing lineage. When both children of a union trace to
    * the same source attributes, a later join over it dies in
    * constraint rewriting; the checkpoint (corpus ints + cells-sized
    * arrays) is the state a maintenance job republishes anyway, and
    * it lets an audit recount the state rather than the plan.
    *
    * Scale shape: each iteration is a broadcast-centroid assignment
    * over the members plus a cells×dims mean — the a15 cost confined
    * to the flagged keyspace; the untouched frames pass through behind
    * broadcast anti-joins. */
  private def retrainFlagged(assigned: DataFrame, cents: DataFrame, flagged: DataFrame,
                             seeded: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val flaggedCells = flagged.select(col("cell"))
    val (cur, asg) = lloyd(seeded.select(col("vec_id"), col("emb"), col("nrm")), seeded,
      cents.join(broadcast(flaggedCells), Seq("cell"))
        .select(col("cell"), col("c_emb"), col("c_nrm")), iters)
    val newAssigned = freshUnion(
      assigned.join(broadcast(flaggedCells), Seq("cell"), "left_anti"),
      asg.withColumn("seg", lit(0)), "vec_id", "cell", "seg")
    val newCents = freshUnion(
      cents.join(broadcast(flaggedCells), Seq("cell"), "left_anti"),
      cur, "cell", "c_emb", "c_nrm")
    (newAssigned.localCheckpoint(), newCents.localCheckpoint())
  }

  /** The rebuild arm's geometry kernel — [[retrainFlagged]] over
    * [[flaggedMembers]], without [[rebuildCells]]' conservation guard.
    * a32, a33 and a35 execute their rebuilds through it. Returns the
    * rewritten (assigned (vec_id, cell, seg), cents), both
    * checkpointed. */
  private[graft] def rebuildAssignment(assigned: DataFrame, cents: DataFrame,
                                       flagged: DataFrame, vectors: DataFrame,
                                       iters: Int = 1): (DataFrame, DataFrame) =
    retrainFlagged(assigned, cents, flagged,
      flaggedMembers(assigned, flagged, vectors), iters)

  /** The rebuild arm's re-code kernel (residual layout): the flagged
    * members `fm` (vec_id, cell) after a rebuild, their residuals taken
    * against the rebuilt `cents` and coded against the FROZEN residual
    * `codebook` — (vec_id, sub, code_id, dist), checkpointed. Shared by
    * [[rebuildCells]] and a33. */
  private def recodeFlagged(vectors: DataFrame, fm: DataFrame, cents: DataFrame,
                            codebook: DataFrame, m: Int, subDim: Int): DataFrame =
    residualCodes(vectors.select(col("vec_id"), col("emb")).join(fm, Seq("vec_id")),
        cents, codebook, m, subDim)
      .localCheckpoint()

  /** Execute the REBUILD arm a22 decides — the last decide→act seam
    * in the index lifecycle closed (round 17; r16 verdict #1).
    * [[compactIndex]] executes `compact`; this applies `rebuild`:
    * a15's Lloyd retrain scoped to the flagged cells' members
    * (base + every absorbed delta generation), new centroids for
    * those cells only, members re-dispatched among them, their
    * posting lists folded to a fresh base segment. What happens to
    * the CODES depends on the artifact's layout (round 18; r17
    * verdict #2 closed the re-code arm):
    *  - [[LayoutRaw]]: codes and codebooks are UNCHANGED by
    *    construction — a12-style raw-vector codes against a
    *    corpus-global codebook cannot see a coarse-geometry retrain
    *    (the spec asserts codes byte-identical).
    *  - [[LayoutResidual]]: the retrained cells' members are
    *    RE-CODED — their residuals are taken against the very
    *    centroids that moved (and against their NEW cell when the
    *    re-dispatch moved them between flagged cells) — while every
    *    untouched member's code rows pass through byte-identical.
    *    The residual CODEBOOK stays frozen: re-seeding it is a full
    *    retrain, a different (index-wide) maintenance class.
    * The caller republishes with
    * [[saveIvfPqIndex]](..., [[ivfPqIndexVersion]](src) + 1) — the
    * same lineage bump as compaction. Spec-pinned: untouched cells'
    * assigned/cents/codes rows byte-identical, rebuilt cells' mean
    * assignment cosine not worse (the k-means objective), recall on
    * a drifted cluster ≥ the stale index's, tamper guards live.
    * The retrain and the re-code are the kernels a32/a33 audit
    * ([[retrainFlagged]], [[recodeFlagged]]); this function adds the
    * conservation guards and the code passthrough. */
  def rebuildCells(ix: IvfPqIndex, policy: DataFrame, vectors: DataFrame,
                   iters: Int = 1): IvfPqIndex = {
    val flagged = policy.filter(col("action") === "rebuild").select(col("cell"))
    val seeded = flaggedMembers(ix.assigned, flagged, vectors)
    // Conservation guard: the caller's `vectors` relation must cover
    // every indexed member exactly once — a corpus store missing
    // absorbed deltas (or carrying duplicate vec_ids) would otherwise
    // silently shrink (or inflate) the retrained posting lists, and
    // the republished manifest would record the corrupted counts as
    // truth, so no tamper guard could ever catch it. TWO independent
    // checks (r17 ADVICE #1): the raw row count catches net loss/
    // gain, and the DISTINCT vec_id count catches the cancelling case
    // the count alone passes — one duplicated vec_id AND one missing
    // member leave the row count intact while the posting list is
    // corrupted on both ends. All three reads are on checkpointed/
    // cells-pruned frames — no corpus recompute; the distinct is one
    // long-column aggregate over the flagged members only.
    val nMembers = seeded.count()
    val nIndexed = ix.assigned.join(broadcast(flagged), Seq("cell")).count()
    val nDistinct = seeded.select(col("vec_id")).distinct().count()
    require(nMembers == nIndexed && nDistinct == nIndexed,
      s"[graft] rebuildCells: vectors relation yields $nMembers rows " +
        s"($nDistinct distinct vec_ids) for $nIndexed indexed members of " +
        "the flagged cells — the corpus store is missing members or has " +
        "duplicate vec_ids; aborting before the retrain writes a silently " +
        "corrupted posting list")
    val (asg, cents) = retrainFlagged(ix.assigned, ix.cents, flagged, seeded, iters)
    val codes =
      if (ix.layout != LayoutResidual) ix.codes
      else {
        // members never leave the flagged set, so the flagged members'
        // AFTER rows are exactly the rewritten assignment's rows in
        // flagged cells — the ids whose codes must change; everyone
        // else's rows pass through behind a key anti-join, byte-identical
        val fm = asg.join(broadcast(flagged), Seq("cell"))
          .select(col("vec_id"), col("cell"))
        // geometry from the frozen codebook, never caller parameters
        // (r18 ADVICE #1): pqAssignSubs inner-joins on `sub`, so a
        // mismatched m would silently drop code rows for every
        // flagged member — exactly the corruption class the
        // assignment-side conservation guard above exists to catch
        val (m, subDim) = ix.pqGeometry
        val recoded = recodeFlagged(vectors, fm, cents, ix.codebook, m, subDim)
        // Code-side conservation (the re-code twin of the assignment
        // guard): every flagged member must come back with exactly m
        // code words. Build/absorb maintain m-rows-per-member as an
        // artifact invariant, so nRecoded == nFlagged·m is the same
        // statement as recoded-count == replaced-count without
        // re-executing ix.codes (which may be unmaterialized
        // lineage). Both counts read checkpointed frames.
        val nFlagged = fm.count()
        val nRecoded = recoded.count()
        require(nRecoded == nFlagged * m,
          s"[graft] rebuildCells: re-code produced $nRecoded code rows " +
            s"for $nFlagged flagged members (expected ${nFlagged * m} at " +
            s"m=$m from the artifact's codebook) — the codebook frame is " +
            "malformed (missing sub rows); aborting before publishing " +
            "codes that decode against the wrong geometry")
        // checkpointed for the same servability reason as the
        // assignment
        freshUnion(
            ix.codes.join(fm.select(col("vec_id")), Seq("vec_id"), "left_anti"),
            recoded, "vec_id", "sub", "code_id")
          .localCheckpoint()
      }
    IvfPqIndex(asg, codes, cents, ix.codebook, ix.nextSegHint, ix.layout)
  }

  /** [[retrainIndex]]'s kernel, without its guards, over `v` (vec_id,
    * emb, nrm): `iters` [[lloyd]] steps over the whole corpus seeded
    * from the index's current membership, then the codebook re-seeded
    * and every member re-coded for the index's layout ([[rawPq]] /
    * [[residualPq]] against the RETRAINED centroids). The returned
    * index keeps what an audit reads: `assigned` is the final
    * assignment (vec_id, emb, nrm, cell, c_cos) — not yet segment-
    * tagged — and `codes` carry `dist`. a34 audits exactly this. */
  private def retrainKernel(ix: IvfPqIndex, v: DataFrame, iters: Int,
                            nCodes: Int, m: Int, subDim: Int): IvfPqIndex = {
    // membership-seeded Lloyd: ONE vec_id join attaches the current
    // cell; each step is a cells×dims mean + a broadcast re-dispatch
    val (cents, asg) = lloyd(v,
      v.join(ix.assigned.select(col("vec_id"), col("cell")), Seq("vec_id")),
      ix.cents.select(col("cell"), col("c_emb"), col("c_nrm")), iters)
    val (codes, codebook) =
      if (ix.layout == LayoutResidual) {
        // one residual frame (vs the RETRAINED centroids) feeds both
        // the re-seed and the coding pass — the build-path practice
        val resid = residualsOf(asg.select(col("vec_id"), col("emb"), col("cell")), cents)
          .localCheckpoint()
        residualPq(resid, resid, nCodes, m, subDim)
      } else rawPq(v, nCodes, m, subDim)
    IvfPqIndex(asg, codes, cents, codebook, nextSegHint = Some(1), ix.layout)
  }

  /** FULL retrain with codebook RE-SEED — the index-WIDE maintenance
    * class [[rebuildCells]]' contract deliberately excludes (round
    * 19; r18 verdict #3: "re-seeding is a different maintenance
    * class"): when drift has spread past what scoped rebuilds absorb,
    * the whole geometry retrains. `iters` Lloyd steps over the ENTIRE
    * corpus, seeded from the index's CURRENT membership (the
    * continuity that makes this a retrain, not a cold rebuild — the
    * first mean step reuses the posting lists instead of re-routing
    * the corpus), every member re-dispatched among the new centroids,
    * posting lists folded to a fresh base segment — and, unlike every
    * scoped arm, the PQ codebook RE-SEEDED from the corpus the index
    * serves TODAY and every member re-coded against it:
    *  - [[LayoutRaw]]: a12's salted top-k over the corpus seeds the
    *    new book; every member's raw subvectors re-code.
    *  - [[LayoutResidual]]: residuals vs the RETRAINED centroids seed
    *    the book (a17's construction, now over the full corpus
    *    including absorbed arrivals — the population the frozen book
    *    never saw); every member's residual re-codes.
    * The PQ geometry (m, subDim) is DERIVED from the artifact's
    * codebook ([[pqGeometryOf]]) — a retrain replaces the WORDS, not
    * the ADC shape the serve fleet deploys against. The caller
    * republishes with [[saveIvfPqIndex]](...,
    * [[ivfPqIndexVersion]](src) + 1). Conservation guard: same
    * contract as [[rebuildCells]], index-wide — `vectors` must cover
    * every indexed member exactly once. Cost: one vec_id member join
    * (raw vectors shuffle once), then per Lloyd step a broadcast-
    * centroid corpus map pass + a cells×dims partial-combining mean;
    * the re-seed is a salted top-k (TakeOrdered, corpus-size-
    * independent state) and the coding pass is map-side against the
    * broadcast book — no other corpus shuffle. The arithmetic is
    * [[retrainKernel]], the kernel a34 audits. */
  def retrainIndex(ix: IvfPqIndex, vectors: DataFrame, iters: Int = 1,
                   geo: AnnGeometry = Geo): IvfPqIndex = {
    val v = vectors.select(col("vec_id"), col("emb"), col("nrm"))
    val nIndexed = ix.assigned.count()
    val nV = v.count()
    val nDistinct = v.select(col("vec_id")).distinct().count()
    require(nV == nIndexed && nDistinct == nIndexed,
      s"[graft] retrainIndex: vectors relation yields $nV rows " +
        s"($nDistinct distinct vec_ids) for $nIndexed indexed members — " +
        "the corpus store is missing members or has duplicate vec_ids; " +
        "aborting before the retrain publishes a corrupted index")
    val (m, subDim) = ix.pqGeometry
    val rt = retrainKernel(ix, v, iters, geo.nCentroids, m, subDim)
    rt.copy(assigned = rt.assigned.select(col("vec_id"), col("cell"), lit(0).as("seg")),
      codes = rt.codes.select(col("vec_id"), col("sub"), col("code_id")))
  }

  /** The deterministic START direction for a32's planted drift —
    * exact small-integer components ((i·37) mod 11 − 5), so both
    * engines inline the identical literal. */
  private[queries] val DriftSeedDir: Seq[Double] =
    (0 until 64).map(i => ((i * 37) % 11 - 5).toDouble)

  /** a32's planted drifted cluster (round 18; r17 verdict #4): a
    * direction Gram-Schmidt-orthogonalized against EVERY coarse
    * centroid plus a 0.05 bias toward the first — derived entirely
    * IN-PLAN by arithmetic both engines reproduce (the spec's
    * driver-side fixture, made oracle-checkable). The cluster lands
    * in the first centroid's cell by construction (0.05 beats
    * 0.05·cos(c₁,c_j) everywhere else) with assignment cosine pinned
    * near 0.05, far below the cell's base cohesion — so a22's
    * cosine-GAP arm fires on real data in the DuckDB-checked path,
    * not only in ScalaTest. One planted row per vec_id % 9 == 1
    * source id (ids offset by 1 000 000), all sharing the drift
    * vector. Cost: 11 chained 1-row broadcast joins over the
    * cells-sized seed frame + one corpus-filtered projection;
    * checkpointed (tiny) so the GS chain runs once and the union
    * children share no attribute ids. Planted ids are offset by
    * `off` = max(corpus vec_id) + 1, DERIVED from the corpus on both
    * engines rather than a fixed literal (r18 ADVICE #3: the old
    * 1e6 literal sits inside sf100's replica span — ScaleData
    * replicas reach ~2M ids — so honest rows would silently have
    * collided with planted ids, merging assignment rows on both
    * sides and changing what a32 tests without either engine
    * noticing). */
  private[graft] def plantedDriftVecs(v: DataFrame, geo: AnnGeometry,
                                      off: Long): DataFrame = {
    val base = v.filter(pmod(col("vec_id"), lit(4L)) =!= 1L)
    // seed rank k = the k-th smallest salted hash — a 10-row global
    // window, bounded by nCentroids (it never reaches a32's PLANS
    // section: the checkpoint below truncates lineage, so the
    // discipline whitelist carries no a32 allowance — r18 ADVICE #4)
    val ranked = hashTopK(base, "cent", geo.nCentroids)
      .withColumn("rk", row_number().over(Window.orderBy(
        md5(concat(lit("cent|"), col("vec_id").cast("string")).cast("binary")),
        col("vec_id"))))
      .select(col("rk"), col("emb"))
      .localCheckpoint()
    // ONE-row Gram-Schmidt fold (round 19): the old form chained 11
    // sequential 1-row broadcast cross-joins — one broadcast-exchange
    // job per orthogonalization step, paid by every consumer query
    // (a32/a34/a35). The rank-ordered seeds are collected into a
    // single array column and the SAME per-step zip_with/dot
    // arithmetic runs as one aggregate fold over it (identical
    // operation sequence step for step, so the drift vector is
    // bit-identical), collapsing the whole construction to one job.
    val cks = ranked.agg(
      expr("transform(array_sort(collect_list(struct(rk, emb))), p -> p.emb)")
        .as("cks"))
    val drift = cks.select(
        aggregate(col("cks"), typedLit(DriftSeedDir), (dd, ck) =>
          zip_with(dd, ck, (x, y) =>
            x - (graft.functions.Vec.dot(dd, ck) /
              graft.functions.Vec.dot(ck, ck)) * y)).as("d"),
        element_at(col("cks"), 1).as("c1"))
      .select(zip_with(col("d"), col("c1"), (x, y) =>
        x / sqrt(graft.functions.Vec.dot(col("d"), col("d"))) +
          lit(0.05) * y / sqrt(graft.functions.Vec.dot(col("c1"), col("c1"))))
        .as("demb"))
    v.filter(pmod(col("vec_id"), lit(9L)) === 1L)
      .select((col("vec_id") + off).as("vec_id"))
      .crossJoin(broadcast(drift))
      .select(col("vec_id"), col("demb").as("emb"),
        graft.functions.Vec.norm(col("demb")).as("nrm"))
      .localCheckpoint()
  }

  /** The drifted lifecycle fixture a32, a34 and a35 act on: the corpus
    * `v` (vec_id, emb, nrm) plus [[plantedDriftVecs]]' cluster, and the
    * delta flag — a31's 1-in-4 honest split or any planted row. The
    * planted-id offset is derived from the corpus itself (r18 ADVICE
    * #3) — one footer-backed max probe over the pruned id column; the
    * oracle derives the identical value with a scalar subquery, so
    * planted ids can never collide with honest ids at ANY scale. */
  private[graft] def driftedFixture(v: DataFrame, geo: AnnGeometry): (DataFrame, Column) = {
    val off = v.agg(max(col("vec_id"))).head().getLong(0) + 1L
    (v.select(col("vec_id"), col("emb"), col("nrm"))
        .unionByName(plantedDriftVecs(v, geo, off)),
      pmod(col("vec_id"), lit(4L)) === 1L || col("vec_id") >= off)
  }

  /** The delta-grown lifecycle state every executor audit (a31–a35)
    * acts on: base trains the coarse geometry, EVERY vector assigns
    * once (the same physical state decides and is acted on), and the
    * checkpoint carries (vec_id, cell, c_cos, is_delta, seg) only —
    * seg 0 for base rows, 1 for the absorbed generation; raw vectors
    * stay in the corpus relation. One definition so the audits can
    * never quietly diverge on the state they audit. */
  private def deltaGrownState(v: DataFrame, isDelta: Column,
                              geo: AnnGeometry): (DataFrame, DataFrame) = {
    val cents = centroidsOf(v.filter(!isDelta), geo.nCentroids)
    val asg = assignCells(v, cents).withColumn("is_delta", isDelta)
      .select(col("vec_id"), col("cell"), col("c_cos"), col("is_delta"),
        when(col("is_delta"), lit(1)).otherwise(lit(0)).as("seg"))
      .localCheckpoint()
    (cents, asg)
  }

  /** a33/a34's BEFORE state: the residual index as it was built from
    * the base rows and then grew — every member's residual against its
    * assigned centroid, the book seeded from the BASE residuals only
    * ([[ivfPqResidualIndexOf]]'s construction over the base: the book
    * predates the arrivals), and the arrivals coded against that
    * frozen book as [[ivfPqIndexDelta]] codes them. One checkpointed
    * residual frame feeds seeds and coding. Returns (codes with
    * `dist`, checkpointed; codebook). */
  private def buildTimeResidualPq(v: DataFrame, cents: DataFrame, asg: DataFrame,
                                  geo: AnnGeometry): (DataFrame, DataFrame) = {
    val resid = residualsOf(v.select(col("vec_id"), col("emb"))
        .join(asg.select(col("vec_id"), col("cell"), col("is_delta")), Seq("vec_id")), cents)
      .localCheckpoint()
    val (codes, codebook) = residualPq(resid, resid.filter(!col("is_delta")),
      geo.nCentroids, PqM, PqSubDim)
    (codes.localCheckpoint(), codebook)
  }

  /** a32: the rebuild EXECUTION audit — a31's pattern applied to the
    * other verdict arm. Build the delta-grown state (a31's 1-in-4
    * honest split PLUS [[plantedDriftVecs]]' drifted cluster — round
    * 18 closed r17 verdict #4: the old fixture was geometrically
    * benign, so a22's cos-gap arm stayed quiet and the oracle only
    * ever saw rank-by-share rebuilds), decide with a22's REAL policy
    * ([[policyFromStats]]: delta share AND assignment-cosine gap —
    * the planted cluster trips the gap arm, honest delta-heavy cells
    * read compact, light cells keep), EXECUTE the rebuild arm with
    * [[rebuildAssignment]] ([[rebuildCells]]' retrain: one Lloyd step
    * over exactly the gap-flagged cells), and report per cell what
    * the window physically did: populations, the policy's action,
    * member count and segment count after (RECOUNTED from the
    * rewritten frames, not derived from the policy — agreement with
    * the oracle's independent re-derivation of the drift
    * construction, the policy arms AND the retrain arithmetic proves
    * the executor moved exactly the gap-triggered cells and nothing
    * else), and the mean assignment cosine before/after (the k-means
    * objective; keep AND compact cells recount to their before value
    * — the rebuild executor must not touch a compact cell, that is
    * a31's job). Scale shape: ONE corpus assignment pass
    * (localCheckpointed, shared by the policy, the rewrite seed and
    * the recount), the retrain confined to the flagged members,
    * cells-sized rollups and broadcast joins; the drift construction
    * is one aggregate fold over the cells-sized seed frame. */
  def rebuildExec(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val (all, isDelta) = driftedFixture(vecs(s, d), geo)
    rebuildExecOf(all, isDelta, geo)
  }

  private[graft] def rebuildExecOf(v: DataFrame, isDelta: Column,
                                   geo: AnnGeometry = Geo): DataFrame = {
    val (cents, asg) = deltaGrownState(v, isDelta, geo)
    // the ACTION is a22's decision layer verbatim — the same
    // policyFromStats the policy (a22), drift (a30) and compaction
    // executor (a31) read, so the audit pins the executor against
    // the policy's real trigger
    val mcb = asg.groupBy(col("cell")).agg(avg(col("c_cos")).as("mcb"))
    val before = policyFromStats(deltaStatsOf(asg))
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"))
      .join(mcb, Seq("cell"))
    val flagged = before.filter(col("action") === "rebuild").select(col("cell"))
    val (asgAfter, centsAfter) = rebuildAssignment(
      asg.select(col("vec_id"), col("cell"), col("seg")), cents, flagged, v)
    val after = v.select(col("vec_id"), col("emb"), col("nrm"))
      .join(asgAfter, Seq("vec_id"))
      .join(broadcast(centsAfter), Seq("cell"))
      .withColumn("cos_a", cosPre(col("emb"), col("nrm"), col("c_emb"), col("c_nrm")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_after"),
        countDistinct(col("seg")).as("segs_after"),
        avg(col("cos_a")).as("mca"))
    before.join(after, Seq("cell"), "left")
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("segs_after"), lit(0L)).as("segs_after"),
        round(col("mcb"), 6).as("mean_cos_before"),
        round(col("mca"), 6).as("mean_cos_after"),
        // + 0.0 normalizes IEEE negative zero: keep cells' gain is
        // STRUCTURALLY zero but computed as (avg reordered) − (avg),
        // a ±1e-17 residue that rounds to ±0.0 — and the two engines
        // would disagree on the SIGN of that zero per cell at random
        (round(col("mca") - col("mcb"), 6) + lit(0.0)).as("cos_gain"))
      .orderBy(col("cell"))
  }

  /** a33: the RE-CODE arm of the rebuild executor, audited (round 18;
    * r17 verdict #2) — a32 pins the retrain's geometry rewrite on the
    * raw layout, where codes are byte-identical BY CONSTRUCTION; this
    * operator audits the arm that only exists on the RESIDUAL layout
    * (a17): when the maintenance order moves centroids, the flagged
    * cells' members must be re-coded because their residuals are
    * taken against the very centroids that moved. Same lifecycle
    * state as a32 (1-in-4 delta split, rank-by-delta-share order),
    * the build-time residual index ([[buildTimeResidualPq]]), then
    * both kernels [[rebuildCells]] runs: one Lloyd step via
    * [[rebuildAssignment]] and the re-code ([[recodeFlagged]] against
    * the moved centroids and the FROZEN residual codebook). Reported
    * per cell: populations, the order, member count after, how many
    * members' code words physically changed (0 on keep cells — the
    * byte-passthrough proof; the oracle independently re-derives the
    * coding on both sides of the move), and the residual-PQ
    * quantization error before/after (the number the re-code exists
    * to keep honest — WITHOUT the re-code, rebuilt cells' stored
    * codes would decode against centroids that no longer exist).
    * Scale shape: ONE corpus assignment pass (shared via
    * [[deltaGrownState]]), one vec_id member join, the retrain and
    * re-code confined to flagged members, codebook/centroids
    * broadcast, cells-sized rollups. */
  def residualRebuildExec(s: SparkSession, d: String, geo: AnnGeometry = Geo,
                          rebuildK: Int = 3): DataFrame =
    residualRebuildExecOf(vecs(s, d), pmod(col("vec_id"), lit(4L)) === 1L, geo, rebuildK)

  private[graft] def residualRebuildExecOf(v: DataFrame, isDelta: Column,
                                           geo: AnnGeometry = Geo,
                                           rebuildK: Int = 3): DataFrame = {
    val (cents, asg) = deltaGrownState(v, isDelta, geo)
    val (codesB, codebook) = buildTimeResidualPq(v, cents, asg, geo)
    val before = asg.groupBy(col("cell"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"))
      // cells-sized global window, bounded by nCentroids (declared in
      // plan_discipline's GLOBAL_WINDOW_OK) — a32's r17 ordering rule
      .withColumn("rk", row_number().over(Window.orderBy(
        (col("n_delta").cast("double") / (col("n_base") + col("n_delta"))).desc,
        col("cell"))))
      .withColumn("action",
        when(col("rk") <= rebuildK, "rebuild").otherwise("keep"))
      // checkpointed (cells-sized) so the order is planned ONCE —
      // without it each consumer (flagged, the final join) re-expands
      // the rank window in the physical plan
      .localCheckpoint()
    val mseB = codesB.join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell")).agg(avg(col("dist")).as("mb"))
    // EXECUTE both arms with the artifact kernels: geometry rewrite,
    // then the re-code of exactly the flagged members
    val flagged = before.filter(col("action") === "rebuild").select(col("cell"))
    val (asgAfter, centsAfter) = rebuildAssignment(
      asg.select(col("vec_id"), col("cell"), col("seg")), cents, flagged, v)
    val fm = asgAfter.join(broadcast(flagged), Seq("cell"))
      .select(col("vec_id"), col("cell"))
    val codesA = recodeFlagged(v, fm, centsAfter, codebook, PqM, PqSubDim)
    // per flagged member: did ANY subspace's code word move?
    val changed = codesA.as("a")
      .join(codesB.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.sub") === col("b.sub"))
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(max(when(col("a.code_id") =!= col("b.code_id"), 1L).otherwise(0L)).as("chg"))
    // AFTER rollups: flagged cells recount from the re-coded rows,
    // untouched cells recount from the passthrough rows (their codes
    // frame is byte-identical, so the recount must read mse_before)
    val flaggedRoll = codesA.join(fm, Seq("vec_id"))
      .groupBy(col("cell")).agg(avg(col("dist")).as("ma"))
      .join(changed.join(fm, Seq("vec_id"))
          .groupBy(col("cell")).agg(sum(col("chg")).as("n_recoded")),
        Seq("cell"), "left")
      .select(col("cell"), col("ma"), coalesce(col("n_recoded"), lit(0L)).as("n_recoded"))
    val untouchedRoll = codesB
      .join(fm.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell")).agg(avg(col("dist")).as("ma"))
      .select(col("cell"), col("ma"), lit(0L).as("n_recoded"))
    val after = freshUnion(flaggedRoll, untouchedRoll, "cell", "ma", "n_recoded")
    val counts = asgAfter.groupBy(col("cell")).agg(count(lit(1)).as("n_after"))
    before.join(mseB, Seq("cell"), "left")
      .join(counts, Seq("cell"), "left")
      .join(after, Seq("cell"), "left")
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_recoded"), lit(0L)).as("n_recoded"),
        round(col("mb"), 6).as("mse_before"),
        round(col("ma"), 6).as("mse_after"))
      .orderBy(col("cell"))
  }

  /** a34: the FULL-RETRAIN audit (round 19; r18 verdict #3) — the
    * index-wide maintenance class executed and oracle-checked.
    * a31/a32/a33 audit the SCOPED arms (compact / geometry rewrite /
    * re-code) under a frozen codebook; this audits the escalation
    * that replaces everything: on a32's drifted lifecycle state
    * (1-in-4 delta split + the planted Gram-Schmidt cluster, residual
    * layout), one full Lloyd step re-centers EVERY cell from its
    * current members, the WHOLE corpus re-dispatches among the new
    * centroids, and the residual codebook is RE-SEEDED from the
    * post-retrain residuals (the population the build-time book never
    * saw — it was seeded from base residuals before the arrivals
    * landed) with every member re-coded. Reported per cell:
    * populations before, recounted members after, how many members'
    * code words physically changed, mean assignment cosine
    * before/after (the k-means objective a single step must not
    * worsen — spec-asserted globally), and residual-PQ quantization
    * error before/after (the re-seed's yield: the new book reflects
    * the corpus that exists, not the one that existed at build time).
    * The oracle re-derives the drift construction, the build-time
    * book, the full Lloyd step, the re-seed ranking and both coding
    * passes from scratch. The retrain runs [[retrainKernel]] — the
    * arithmetic [[retrainIndex]] publishes, minus its conservation
    * guard — so the oracle checks the function a fleet calls. Scale
    * shape: one corpus assignment pass per side (broadcast
    * centroids), one vec_id member join, cells×dims means, salted
    * top-k seeds (TakeOrdered), map-side coding against broadcast
    * books, cells-sized rollups. */
  def fullRetrainExec(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val (all, isDelta) = driftedFixture(vecs(s, d), geo)
    fullRetrainExecOf(all, isDelta, geo)
  }

  private[graft] def fullRetrainExecOf(v: DataFrame, isDelta: Column,
                                       geo: AnnGeometry = Geo): DataFrame = {
    val (cents, asg) = deltaGrownState(v, isDelta, geo)
    val (codesB, codebookB) = buildTimeResidualPq(v, cents, asg, geo)
    val before = asg.groupBy(col("cell"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        avg(col("c_cos")).as("mcb"))
    val mseB = codesB.join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell")).agg(avg(col("dist")).as("mb"))
    // EXECUTE: one full Lloyd step, re-seed and re-code on the grown
    // residual index
    val rt = retrainKernel(
      IvfPqIndex(asg.select(col("vec_id"), col("cell"), col("seg")), codesB, cents,
        codebookB, None, LayoutResidual),
      v.select(col("vec_id"), col("emb"), col("nrm")), 1, geo.nCentroids, PqM, PqSubDim)
    val afterAsg = rt.assigned.select(col("vec_id"), col("cell"), col("c_cos"))
      .localCheckpoint()
    val codesA = rt.codes.localCheckpoint()
    // per member: did ANY subspace's code word move under the re-seed?
    val chg = codesA.as("a")
      .join(codesB.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.sub") === col("b.sub"))
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(max(when(col("a.code_id") =!= col("b.code_id"), 1L).otherwise(0L)).as("chg"))
    val after = afterAsg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_after"), avg(col("c_cos")).as("mca"))
    val mseA = codesA.join(afterAsg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell")).agg(avg(col("dist")).as("ma"))
    val recoded = chg.join(afterAsg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell")).agg(sum(col("chg")).as("n_recoded"))
    before.join(mseB, Seq("cell"), "left")
      .join(after, Seq("cell"), "left")
      .join(mseA, Seq("cell"), "left")
      .join(recoded, Seq("cell"), "left")
      .select(col("cell"), col("n_base"), col("n_delta"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_recoded"), lit(0L)).as("n_recoded"),
        round(col("mcb"), 6).as("mean_cos_before"),
        round(col("mca"), 6).as("mean_cos_after"),
        // + 0.0 normalizes IEEE negative zero (the a32 practice)
        (round(col("mca") - col("mcb"), 6) + lit(0.0)).as("cos_gain"),
        round(col("mb"), 6).as("mse_before"),
        round(col("ma"), 6).as("mse_after"))
      .orderBy(col("cell"))
  }

  /** a35: the LIVE MAINTENANCE LOOP promoted to the oracle gate
    * (round 19; r18 verdict #4). The StreamingSpec proves the loop
    * end-to-end (streamed policy ≡ batch a22, executed on the
    * persisted artifact); this operator puts the COMPOSITION —
    * monitor → policy → both verdict arms → serve — in the
    * DuckDB-checked path, so the driver gate covers it every round,
    * not just ScalaTest. Four stages on a32's drifted lifecycle
    * fixture, each previously audited alone, here composed:
    *
    *  1. MONITOR (the store path, not a batch re-derivation): base
    *     stats frozen per cell, then the arrivals folded through TWO
    *     [[compactStatsStep]] micro-batches (split by vec_id parity).
    *     The oracle computes ONE grouped sum over all arrivals —
    *     value agreement is the step's associativity, hash-checked
    *     where the spec could only assert it.
    *  2. POLICY: [[policyOfStores]] over (frozen base, grown store) —
    *     the live monitor's verdict table, global escalation columns
    *     included.
    *  3. ACT, both arms in the window's order: [[compactAssigned]]
    *     ([[compactIndex]]'s rewrite) folds the compact cells' delta
    *     fragments, then [[rebuildAssignment]] ([[rebuildCells]]'
    *     retrain) retrains exactly the rebuild cells (one Lloyd step
    *     over their members).
    *  4. SERVE through the maintained state: probes route on the
    *     AFTER centroids, exact-cosine top-K within routed cells
    *     (a3's serve form — the routing + posting lists are what
    *     maintenance rewrote; the PQ code arm of serve is a33/a34's
    *     audited territory), rolled up as served_hits per cell.
    *
    * Per cell the output recounts what the window did (populations,
    * segments before/after, k-means objective before/after) and what
    * the serve read (served_hits) — every column re-derived from
    * scratch by the oracle: drift construction, assignment, store
    * algebra, policy arms, compaction, the Lloyd step, routing and
    * ranking. Scale shape: ONE corpus assignment pass (checkpointed,
    * shared by monitor seed, policy, act and recount), the retrain
    * confined to flagged members, the monitor's store cells-sized,
    * centroids broadcast everywhere, the serve's only shuffle the
    * members-sized rank; raw vectors shuffle once (the member join). */
  def maintainLoop(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame = {
    val (all, isDelta) = driftedFixture(vecs(s, d), geo)
    maintainLoopOf(all, isDelta, geo)
  }

  private[graft] def maintainLoopOf(v: DataFrame, isDelta: Column,
                                    geo: AnnGeometry = Geo,
                                    batches: Int = 2): DataFrame = {
    val sess = v.sparkSession
    val (cents, asg) = deltaGrownState(v, isDelta, geo)
    // 1. the monitor's store path: frozen base stats (from the one
    // shared assignment pass) + two real compactStatsStep folds over
    // the raw arrival batches — the monitor re-assigns arrivals
    // independently of the index's own pass, exactly as the live
    // loop does between micro-batches
    val baseStats = asg.filter(!col("is_delta")).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"), sum(col("c_cos")).as("s_base"))
    val store0 = sess.createDataFrame(
      sess.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_delta",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_delta",
          org.apache.spark.sql.types.DoubleType))))
    val arrivals = v.filter(isDelta)
    val store = (0 until batches).foldLeft(store0) { (st, i) =>
      compactStatsStep(cents, st,
        arrivals.filter(pmod(col("vec_id"), lit(batches.toLong)) === i.toLong))
    }
    // 2. the live verdict — 4-consumer table (compact arm, rebuild
    // arm, recount, output), checkpointed so the monitor runs once
    val policy = policyOfStores(baseStats, store).localCheckpoint()
    // 3. both arms, window order: fold compact fragments, retrain
    // rebuild cells
    val assigned = asg.select(col("vec_id"), col("cell"), col("seg"))
    val segsBefore = assigned.groupBy(col("cell"))
      .agg(countDistinct(col("seg")).as("segs_before"))
    val mcb = asg.groupBy(col("cell")).agg(avg(col("c_cos")).as("mcb"))
    val flagged = policy.filter(col("action") === "rebuild").select(col("cell"))
    val (asgAfter, centsAfter) = rebuildAssignment(compactAssigned(assigned, policy),
      cents, flagged, v)
    // recount the maintained state (the member join also feeds the
    // serve leg — one vectors shuffle for both consumers)
    val memAfter = v.select(col("vec_id"), col("emb"), col("nrm"))
      .join(asgAfter, Seq("vec_id"))
      .join(broadcast(centsAfter), Seq("cell"))
      .withColumn("cos_a", cosPre(col("emb"), col("nrm"), col("c_emb"), col("c_nrm")))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"), col("seg"),
        col("cos_a"))
      .localCheckpoint()
    val after = memAfter.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_after"),
        countDistinct(col("seg")).as("segs_after"),
        avg(col("cos_a")).as("mca"))
    // 4. serve through the maintained index: routes on the AFTER
    // centroids, exact cosine within routed cells, top-K per probe
    val routes = routeProbes(probesOf(v.filter(!isDelta)), centsAfter, geo.nProbe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    val wk = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val servedHits = memAfter
      .join(broadcast(routes), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", cosPre(col("p_emb"), col("p_nrm"), col("emb"), col("nrm")))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= K)
      .groupBy(col("cell")).agg(count(lit(1)).as("served_hits"))
    policy
      .join(broadcast(segsBefore), Seq("cell"))
      .join(broadcast(mcb), Seq("cell"))
      .join(after, Seq("cell"), "left")
      .join(broadcast(servedHits), Seq("cell"), "left")
      .select(col("cell"), col("n_base"), col("n_delta"), col("delta_frac"),
        col("cos_gap"), col("action"), col("rebuild_cells"),
        col("global_delta_frac"), col("rebuild_index"),
        col("segs_before"),
        coalesce(col("segs_after"), lit(0L)).as("segs_after"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        round(col("mcb"), 6).as("mean_cos_before"),
        round(col("mca"), 6).as("mean_cos_after"),
        (round(col("mca") - col("mcb"), 6) + lit(0.0)).as("cos_gain"),
        coalesce(col("served_hits"), lit(0L)).as("served_hits"))
      .orderBy(col("cell"))
  }

  /** a31: the compaction EXECUTION audit — build the delta-grown
    * index state (base segment + one absorbed delta generation; a
    * 1-in-4 uniform split, NOT a20/a22's 1-in-7: on this corpus the
    * 1/7 share never crosses the 0.2 compact threshold in any cell,
    * which would leave the executor's main arm oracle-unexercised —
    * at 1/4 every SF yields both compact and keep cells, measured
    * sf0.001 6/4, sf0.01 6/4, sf0.1 9/1), decide with the a22
    * policy, EXECUTE the
    * rewrite with [[compactAssigned]], and report per cell what the
    * maintenance window physically did: members by population, the
    * action, segment count before/after (physically recounted from
    * the rewritten frame, NOT derived from the policy — agreement
    * with the oracle's arithmetic prediction is exactly the proof
    * that the rewrite did what the verdict ordered and nothing else),
    * surviving delta rows, and the rows merged into base. Scale
    * shape: ONE corpus assignment pass (localCheckpointed, reused by
    * the policy stats and both recounts), then three cells-sized
    * rollups over (vec_id, cell, seg) ints and broadcast-joined
    * cells-sized frames — raw vectors never shuffle, and the rewrite
    * itself is the broadcast-action map pass a 100 TB artifact store
    * would run per maintenance window. */
  def compactExec(s: SparkSession, d: String, geo: AnnGeometry = Geo): DataFrame =
    compactExecOf(vecs(s, d), pmod(col("vec_id"), lit(4L)) === 1L, geo)

  private[graft] def compactExecOf(v: DataFrame, isDelta: Column,
                                   geo: AnnGeometry = Geo): DataFrame = {
    val (_, asg) = deltaGrownState(v, isDelta, geo)
    val policy = policyFromStats(deltaStatsOf(asg))
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"))
    val assigned = asg.select(col("vec_id"), col("cell"), col("seg"))
    val before = assigned.groupBy(col("cell"))
      .agg(countDistinct(col("seg")).as("segs_before"))
    val after = compactAssigned(assigned, policy).groupBy(col("cell"))
      .agg(countDistinct(col("seg")).as("segs_after"),
        sum(when(col("seg") =!= 0, 1L).otherwise(0L)).as("delta_rows_after"))
    policy.join(broadcast(before), Seq("cell"))
      .join(broadcast(after), Seq("cell"))
      .select(col("cell"), col("n_base"), col("n_delta"), col("action"),
        col("segs_before"), col("segs_after"), col("delta_rows_after"),
        (col("n_delta") - col("delta_rows_after")).as("merged_rows"))
      .orderBy(col("cell"))
  }

  /** Serve any (probe_id, p_emb, p_nrm) batch through a frozen
    * [[IvfPqIndex]] (Jégou et al.'s IVF-ADC). The probe side needs
    * no shuffle: each probe is routed to its nProbe cells and given
    * its ADC lookup table from the index's centroids and codebook,
    * collected on the driver and shipped with the task
    * ([[IvfPqTables]]). The raw layout's table is the probe's own;
    * the residual layout's is keyed per routed CELL, from p − c (a
    * candidate in cell c stores its residual's code). The (probe_id,
    * cell, lut) rows are broadcast — the broadcast's one job reads
    * the probes — against ONE scan of the packed postings, each
    * candidate scored by `pq_adc` — no explode, no shuffle, no
    * aggregate. Top-k is the (adc_dist, vec_id) `row_number` window
    * on the unrounded sum, which Spark limits per partition before
    * its one shuffle; the ≤ probes × k survivors are emitted in
    * (probe_id, rank) order from one sorted partition. The same path
    * serves an offline acceptance gate and one micro-batch of a live
    * stream. */
  def ivfPqServeProbes(ix: IvfPqIndex, probes: DataFrame,
                       geo: AnnGeometry = Geo, k: Int = K): DataFrame = {
    val t = ix.frozen
    val residual = ix.layout == LayoutResidual
    val nProbe = geo.nProbe
    val p = probes.select(col("probe_id"), col("p_emb"), col("p_nrm"))
    val probeSide = p.flatMap(r =>
      t.probeSide(r.get(0), r.getSeq[Double](1).toArray, r.getDouble(2), nProbe, residual))(
      Encoders.row(StructType(Seq(p.schema("probe_id"), StructField("cell", LongType),
        StructField("lut", ArrayType(DoubleType))))))
    val wk = Window.partitionBy(col("probe_id")).orderBy(col("adc_dist"), col("vec_id"))
    ix.postings.getOrElse(packedPostings(ix.assigned, ix.codes, t.codeIds))
      .join(broadcast(probeSide), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        graft.functions.Vec.pqAdc(col("codes"), col("lut")).as("adc_dist"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("adc_dist"), 6).as("adc_dist"))
      .coalesce(1)
      .sortWithinPartitions(col("probe_id"), col("rank"))
  }

}

/** An [[IvfPq.IvfPqIndex]]'s coarse centroids and PQ codebook,
  * collected on the driver: the probe side of serving. Routing and
  * the ADC lookup tables are computed from these arrays with no
  * Spark job, in the arithmetic the in-plan kernels use — `vec_dot`'s
  * element-0-first sum, `cosPre`'s quotient, the three dot terms of
  * `pqAssignSubs`' coding distance — so every route and table entry
  * is the value those Spark expressions produce. Serializable: a serve ships it in the probe
  * side's closure. */
private[graft] final class IvfPqTables(cents: Array[Row], codebook: Array[Row])
    extends Serializable {
  val nCents: Int = cents.length
  val nWords: Int = codebook.length
  private val cs = cents.sortBy(_.getAs[Number]("cell").longValue)
  /** Cell ids, ascending. */
  val cells: Array[Long] = cs.map(_.getAs[Number]("cell").longValue)
  private val cEmb = cs.map(_.getAs[collection.Seq[Double]]("c_emb").toArray)
  private val cNrm = cs.map(_.getAs[Double]("c_nrm"))
  val (m, subDim) = Similarity.pqGeometryOf(codebook.toSeq)
  /** Each sub's code ids, ascending (a packed code is a position
    * here), and its code words in the same order. */
  val (codeIds, words) = {
    val bySub = (0 until m).map(sub =>
      codebook.filter(_.getAs[Int]("sub") == sub).sortBy(_.getAs[Number]("code_id").longValue))
    (bySub.map(_.toIndexedSeq.map(_.getAs[Number]("code_id").longValue)),
      bySub.map(_.map(_.getAs[collection.Seq[Double]]("cv").toArray)))
  }
  require(words.map(_.length).distinct.size <= 1,
    s"[graft] IVF-PQ codebook holds ${words.map(_.length).mkString("/")} words per sub; " +
      "a lookup table needs the same count in every sub")

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark's double ordering: NaN above every number, −0.0 = 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The `nProbe` cells (as indices into [[cells]]) a probe routes
    * to: cosine descending, ties to the smaller cell — the order of
    * `routeProbes` and `assignCells`. */
  private def route(p: Array[Double], pNrm: Double, nProbe: Int): Seq[Int] = {
    val cos = cells.indices.map(i => dot(p, cEmb(i)) / (pNrm * cNrm(i)))
    cells.indices.sortWith { (i, j) =>
      val c = cmp(cos(i), cos(j))
      c > 0 || (c == 0 && cells(i) < cells(j))
    }.take(nProbe)
  }

  /** The ADC lookup table of a probe-side vector `v`: sub by sub, for
    * each code word in code_id order, ‖v_sub‖² − 2·v_sub·cv + ‖cv‖². */
  private def lut(v: Array[Double]): Array[Double] =
    (0 until m).toArray.flatMap { sub =>
      val ps = v.slice(sub * subDim, sub * subDim + subDim)
      val pp = dot(ps, ps)
      words(sub).map(cv => pp - 2.0 * dot(ps, cv) + dot(cv, cv))
    }

  /** A probe's (probe_id, cell, lut) rows, one per routed cell. The
    * raw layout's table is the probe's own; the residual layout's is
    * that of p − c, c the routed cell's centroid. */
  def probeSide(probeId: Any, p: Array[Double], pNrm: Double, nProbe: Int,
                residual: Boolean): Seq[Row] = {
    lazy val own = lut(p)
    route(p, pNrm, nProbe).map { i =>
      Row(probeId, cells(i),
        if (residual) lut(Array.tabulate(math.min(p.length, cEmb(i).length))(d => p(d) - cEmb(i)(d)))
        else own)
    }
  }
}
