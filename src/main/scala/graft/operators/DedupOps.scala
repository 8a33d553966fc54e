package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpora.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 16-byte digest (never on the
  *    raw text) — the shuffle carries (digest, doc_id), not documents;
  *  - MinHash signatures are per-row expressions (no shuffle, codegen'd);
  *  - LSH banding turns all-pairs O(n²) into a self-join on (band, bucket)
  *    whose cost is Σ bucket² — the band key is what gets shuffled, and
  *    skewed buckets are handled by AQE skew-join splitting.
  */
object DedupOps {

  /** Stable 32-bit hash of a string column as BIGINT, identical in DuckDB:
    * first 8 hex digits of md5, parsed base-16. Used instead of xxhash64
    * so every dedup operator stays oracle-checkable cross-engine. Fused
    * native form (no hex-string materialization — the composable
    * `conv(substring(md5(x),1,8),16,10)` chain allocates 3 intermediates
    * per shingle, the dominant sketch cost).
    */
  def md5Hash32(c: Column, salt: String): Column = {
    import org.apache.spark.sql.GraftSqlShims
    val in = if (salt.isEmpty) c else concat(c, lit(salt))
    GraftSqlShims.column(graft.functions.Md5Hash32(GraftSqlShims.expression(in)))
  }

  /** Character shingles (n-grams) of the document. Texts shorter than `n`
    * yield an EMPTY array — without the guard, `sequence(1, len-(n-1))`
    * counts DOWN when `len < n` (Spark sequence is bidirectional) and
    * fabricates garbage positions, where the oracle's end-exclusive
    * `range(1, len-(n-2))` is simply empty.
    */
  def shingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)), i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Universal-hash family for MinHash: `h_j(x) = (A(j)·h(x) + B(j)) mod P`
    * over one shared base hash `h` — the base md5 is computed ONCE per
    * shingle instead of once per (shingle, hash), which is the dominant
    * cost at scale (8× fewer digests for an 8-hash signature). P = 2³¹−1
    * keeps every product below 2⁶² (no BIGINT overflow in either engine).
    */
  val MinHashP: Long = 2147483647L
  val MinHashA: Seq[Long] = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L,
    // 9..32: the tuned band shapes (lshCandidatePairsTuned) may use up
    // to 32 permutations; all prime, all < MinHashP, and APPENDED so
    // the first 8 — and every oracle generated from them — are
    // byte-identical to the pre-tuning family
    141650963L, 160481183L, 179424673L, 198491317L, 217645177L, 236887691L,
    256203161L, 275604541L, 295075147L, 314606869L, 334214459L, 353868013L,
    373587883L, 393342739L, 413158511L, 433024223L, 452930459L, 472882027L,
    492876847L, 512927357L, 533000389L, 553105243L, 573259391L, 593441843L)
  val MinHashB: Seq[Long] = Seq(7L, 131L, 523L, 1031L, 2053L, 4099L, 8209L, 16411L,
    32771L, 65537L, 131101L, 262147L, 524309L, 1048583L, 2097169L, 4194319L,
    8388617L, 16777259L, 33554467L, 67108879L, 134217757L, 268435459L,
    536870923L, 1073741827L, 3L, 13L, 41L, 101L, 211L, 307L, 401L, 503L)

  /** Base-hashed shingle array (md5 once per shingle, reduced mod P).
    * Fused one-pass kernel (ShingleHash32s): bit-identical to
    * `transform(shingles(text, n), x => md5Hash32(x, "") % MinHashP)`
    * (pinned by a spec) without the `sequence` position array, the
    * per-shingle substring allocation, or the interpreted HOF lambdas.
    */
  def hashedShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftSqlShims
    GraftSqlShims.column(graft.functions.ShingleHash32s(
      GraftSqlShims.expression(text), n, MinHashP))
  }

  /** One MinHash value from the base-hashed shingle array. Per-row
    * convenience form — for whole-table signatures use
    * `minHashSignatures`, whose explode+partial-agg shape evaluates the
    * base digest exactly once per shingle (Catalyst's CollapseProject
    * re-inlines shared projection subtrees, so a pure-expression
    * signature would recompute the digest array once per hash column).
    */
  def minHash(hashedArr: Column, j: Int): Column =
    array_min(transform(hashedArr, h => (h * MinHashA(j) + MinHashB(j)) % MinHashP))

  /** Whole-table MinHash signatures: (idCol, mh0..mh{n-1}).
    *
    * Shape: explode base-hashed shingles → groupBy(id) with one `min`
    * aggregate per hash function. The md5 runs once per shingle in the
    * pre-shuffle projection; the per-hash work is two multiplies and a
    * mod inside a partial (map-side) aggregate — at 100 TB the shuffle
    * carries only (id, n×8B partial minima).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    require(numHashes <= MinHashA.length, s"at most ${MinHashA.length} hashes")
    val aggs = (0 until numHashes).map(j =>
      min((col("__h") * MinHashA(j) + MinHashB(j)) % MinHashP).as(s"mh$j"))
    // explode_outer: a doc with no shingles (shorter than the shingle
    // size) keeps its row with NULL minima, matching the oracle's
    // list_min([]) = NULL — plain explode would silently drop it.
    df.select(col(idCol), explode_outer(hashedShingles(col(textCol), shingleSize)).as("__h"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: explode a signature into (band, bucket) keys; documents
    * sharing a bucket in any band are near-duplicate candidates.
    * `bandSize` = rows per band: larger ⇒ fewer, higher-precision
    * candidates (collision prob ≈ sim^bandSize per band).
    */
  def lshBands(df: DataFrame, idCol: String, numHashes: Int, bandSize: Int): DataFrame =
    lshBandsCarry(df, Seq(idCol), numHashes, bandSize)

  /** [[lshBands]] carrying several columns through the band explosion
    * unchanged (the probe index needs (__sig, __rep) per banded row).
    * Plan-identical to lshBands for a single carry column.
    */
  private def lshBandsCarry(df: DataFrame, carry: Seq[String],
      numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must divide into bands")
    val numBands = numHashes / bandSize
    val bands = (0 until numBands).map { b =>
      val members = (0 until bandSize).map(r => col(s"mh${b * bandSize + r}").cast("string"))
      // NULL-signature docs (no shingles) get a NULL bucket and are
      // filtered out below: concat_ws would silently skip the NULLs and
      // collide every empty doc into one giant bucket, where a SQL
      // engine's `||` yields NULL (never joins). No-shingle docs are not
      // near-dup candidates, on either engine.
      val allDefined = members.map(_.isNotNull).reduce(_ && _)
      struct(lit(b).as("band"),
        when(allDefined, md5(concat_ws("_", members: _*))).as("bucket"))
    }
    df.select(carry.map(col) :+ explode(array(bands: _*)).as("bb"): _*)
      .select(carry.map(col) ++
        Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)
      .filter(col("bucket").isNotNull)
  }

  /** Candidate near-duplicate pairs from MinHash+LSH: self-join on
    * (band, bucket), counting how many bands agree per pair.
    *
    * Mega-bucket safety — the self-join runs over one representative
    * per DISTINCT full signature, never over raw documents. On a
    * duplicate-saturated corpus (the common pathology: boilerplate
    * crawled thousands of times) every copy shares the whole signature,
    * so raw buckets grow with the duplicate count and the bucket join
    * explodes quadratically; collapsed, bucket width is the number of
    * distinct signatures. The collapse is EXACT, not a cap:
    *   - docs with identical signatures collide in EVERY band, so each
    *     within-group pair gets `n_bands = numBands` verbatim;
    *   - a cross-group pair collides in exactly the bands its two
    *     representatives collide in (equal band-slices hash to equal
    *     buckets), so it inherits the representative pair's count.
    * Both expansions are linear joins through the signature-group
    * membership — the only quadratic object left is the OUTPUT itself,
    * produced by join fan-out, never held in one task's hash bucket.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bandSize: Int = 4, shingleSize: Int = 5): DataFrame = {
    // docs with no shingles have an all-NULL signature: excluded here,
    // exactly as lshBands' NULL-bucket filter excluded them before
    val sig = minHashSignatures(docs, idCol, textCol, numHashes, shingleSize)
      .filter(col("mh0").isNotNull)
    val sigKey = md5(concat_ws("_",
      (0 until numHashes).map(i => col(s"mh$i").cast("string")): _*))
    val withSig = sig.withColumn("__sig", sigKey)
    // one row per DISTINCT signature; all group members share every mh
    // value (that is what __sig digests), so first() is exact
    val groups = withSig.groupBy(col("__sig")).agg(
      count(lit(1)).as("__size"),
      (0 until numHashes).map(i => first(col(s"mh$i")).as(s"mh$i")): _*)
    val bands = lshBands(groups, "__sig", numHashes, bandSize)
    val a = bands.select(col("__sig").as("__s1"), col("band"), col("bucket"))
    val b = bands.select(col("__sig").as("__s2"), col("band"), col("bucket"))
    // group-level edges: cross-group collisions counted per band, plus
    // one self edge per multi-member group (identical signatures
    // collide in EVERY band)
    val edges = a.join(b, Seq("band", "bucket"))
      .filter(col("__s1") < col("__s2"))
      .groupBy(col("__s1"), col("__s2"))
      .agg(count(lit(1)).as("n_bands"))
      .unionByName(groups.filter(col("__size") >= 2)
        .select(col("__sig").as("__s1"), col("__sig").as("__s2"),
          lit((numHashes / bandSize).toLong).as("n_bands")))
    // expand group edges to member pairs: two joins against the
    // (id, signature) table — self edges keep one orientation per pair
    val mem = withSig.select(col(idCol).as("__m"), col("__sig"))
    edges
      .join(mem.select(col("__sig").as("__s1"), col("__m").as("__m1")), "__s1")
      .join(mem.select(col("__sig").as("__s2"), col("__m").as("__m2")), "__s2")
      .filter(col("__s1") =!= col("__s2") || col("__m1") < col("__m2"))
      .select(least(col("__m1"), col("__m2")).as("d1"),
        greatest(col("__m1"), col("__m2")).as("d2"), col("n_bands"))
  }

  /** The LSH S-curve parameter grid: for every (bands b, rows r) with
    * b·r ≤ `numHashes` and every requested threshold, the false-positive
    * and false-negative integrals of the banding collision curve
    * P(s) = 1 − (1 − s^r)^b (Leskovec-Rajaraman-Ullman MMDS §3.4; the
    * same numerical-argmin scheme as datasketch's `_optimal_param`):
    * FP = ∫₀ᵗ P(s) ds (dissimilar pairs that still collide),
    * FN = ∫ₜ¹ (1 − P(s)) ds (similar pairs the banding misses), by
    * `steps`-point midpoint quadrature. Output:
    * `(threshold, b, r, fp, fn, cost)` with
    * cost = fpWeight·FP + fnWeight·FN.
    *
    * This is model-sized math (≤ numHashes·H(numHashes) candidate pairs
    * × |thresholds| rows; the quadrature runs as a per-row fold over a
    * generated `steps`-element sequence) — it exists as a DataFrame so
    * the tuning table itself is queryable/joinable and oracle-checkable,
    * not because it needs a cluster.
    */
  def lshParamGrid(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      thresholds: Seq[Double], fpWeight: Double = 0.5, fnWeight: Double = 0.5,
      steps: Int = 200): DataFrame = {
    require(numHashes >= 1 && steps >= 1 && thresholds.nonEmpty)
    require(thresholds.forall(t => t > 0d && t < 1d), "thresholds must be in (0,1)")
    def curve(s: Column, r: Column, b: Column): Column =
      lit(1d) - pow(lit(1d) - pow(s, r.cast("double")), b.cast("double"))
    def quad(lo: Column, hi: Column, term: Column => Column): Column = {
      val w = (hi - lo) / steps
      aggregate(sequence(lit(0), lit(steps - 1)), lit(0d),
        (acc, k) => acc + term(lo + (k.cast("double") + 0.5d) * w)) * w
    }
    val t = col("threshold")
    spark.range(1, numHashes + 1L).withColumnRenamed("id", "b")
      .withColumn("r", explode(sequence(lit(1L), lit(numHashes.toLong))))
      .filter(col("b") * col("r") <= numHashes)
      .withColumn("threshold", explode(array(thresholds.map(lit(_)): _*)))
      .withColumn("fp", quad(lit(0d), t, s => curve(s, col("r"), col("b"))))
      .withColumn("fn", quad(t, lit(1d), s => lit(1d) - curve(s, col("r"), col("b"))))
      .select(t, col("b"), col("r"), col("fp"), col("fn"),
        (lit(fpWeight) * col("fp") + lit(fnWeight) * col("fn")).as("cost"))
  }

  /** Pick the (bands, rows) minimizing the weighted FP/FN cost at
    * `threshold` — datasketch's `optimal_param`, exposed so callers stop
    * hand-picking band shapes. Driver-side `.head` on the model-sized
    * grid (≤ ~100 rows for numHashes ≤ 32); ties break toward more
    * bands (higher recall), then fewer rows.
    */
  def tuneLshParams(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      threshold: Double, fpWeight: Double = 0.5, fnWeight: Double = 0.5,
      steps: Int = 200): (Int, Int) = {
    val best = lshParamGrid(spark, numHashes, Seq(threshold), fpWeight, fnWeight, steps)
      .orderBy(col("cost"), col("b").desc, col("r"))
      .select(col("b"), col("r")).head()
    (best.getLong(0).toInt, best.getLong(1).toInt)
  }

  /** [[lshCandidatePairs]] with the band shape TUNED for a similarity
    * threshold instead of hand-picked: resolves (b, r) via
    * [[tuneLshParams]] under the `maxHashes` budget, then runs the
    * standard banding with b·r hash functions (the tuned pair may use
    * fewer than `maxHashes` — extra permutations would change the curve,
    * not improve it).
    */
  def lshCandidatePairsTuned(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxHashes: Int = 16, fpWeight: Double = 0.5,
      fnWeight: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    val (b, r) = tuneLshParams(docs.sparkSession, maxHashes, threshold, fpWeight, fnWeight)
    lshCandidatePairs(docs, idCol, textCol, numHashes = b * r, bandSize = r,
      shingleSize = shingleSize)
  }

  /** Cross-corpus near-dup candidates: which NEW documents collide with
    * the EXISTING corpus — the incremental-ingest dedup shape (dedupe a
    * crawl batch against what is already indexed, rather than all
    * self-pairs). Same banding, but the join is BIPARTITE: new-side
    * bands probe corpus-side bands, so work is Σ per-bucket
    * (new × corpus), and the (typically small) new side's bands can
    * broadcast. In steady state the corpus side's bands are a persisted
    * table maintained incrementally — they never recompute per batch.
    * Output: (new_id, corpus_id, n_bands).
    */
  def crossDedupPairs(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 8, bandSize: Int = 4, shingleSize: Int = 5): DataFrame =
    crossPairsOfSigs(
      sigTable(newDocs, idCol, textCol, numHashes, shingleSize),
      sigTable(corpus, idCol, textCol, numHashes, shingleSize),
      idCol, numHashes, bandSize)

  /** Signatures + the collapse key: one row per doc with `mh0..mhk-1`
    * and `__sig` (digest of the whole signature — the exact-duplicate
    * group key).
    */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int): DataFrame =
    withSigKey(minHashSignatures(df, idCol, textCol, numHashes, shingleSize)
      .filter(col("mh0").isNotNull), numHashes)

  private[graft] def withSigKey(sig: DataFrame, numHashes: Int): DataFrame =
    sig.withColumn("__sig", md5(concat_ws("_",
      (0 until numHashes).map(i => col(s"mh$i").cast("string")): _*)))

  // ------------------------------------------------------------------
  // Banded probe index: the signature ledger's creation/compaction-time
  // sidecar (the `_GRAFT_BIGRAM_MODEL` pattern applied to `/sig`).
  // ------------------------------------------------------------------

  /** Generation-scoped subdirectory holding the PRE-BANDED probe
    * index: `bands` = (__sig, band, bucket) per DISTINCT stored
    * signature — the corpus-side table [[crossPairsOfSigs]] otherwise
    * re-derives on EVERY probe with a groupBy shuffle over all stored
    * rows. The index also CERTIFIES the generation is clean: it is
    * written only where the rows were just created/compacted (one row
    * per (sig, id) by construction) and any LSM append DELETES it
    * first, so an index-bound probe reads the raw rows as the member
    * table directly and skips the replay-collapse dropDuplicates
    * shuffle too. A stale index would silently miss collisions with
    * appended rows — the recall loss this family never accepts —
    * hence delete-BEFORE-append; every staged-swap mutation (removal,
    * foreign advance) drops it for free (the `_GRAFT_` sidecar carry
    * copies only FILES, never subdirectories). The band shape rides
    * in the directory name — a probe with a different bandSize misses
    * the index and derives bands from the rows as before.
    */
  // "SIG_INDEX2": the v2 layout adds a __rep column (one representative
  // member id per distinct signature, min of the long-cast ids) so the
  // cluster advance lifts touched signatures to cluster labels with ONE
  // join against the assignments — no member scan, no per-advance
  // group-by. v1 dirs are simply never bound (treated as index-absent)
  // and the prefix-matched invalidation below deletes them on the next
  // append; compaction rebuilds v2.
  private def sigIndexDirName(bandSize: Int): String =
    LedgerGuard.SidecarPrefix + s"SIG_INDEX2_B$bandSize"

  /** Derive + write the index into `genDir` — from `fromRows` when the
    * writer already holds the generation's rows (creation: the cached
    * signature frame), else by reading the generation's parquet back
    * (compaction — one cheap columnar pass, no text access). ONE extra
    * write job per build site; no-op when the band shape does not
    * divide the signature width.
    */
  private def writeSigIndex(spark: org.apache.spark.sql.SparkSession,
      genDir: String, bandSize: Int,
      fromRows: Option[DataFrame] = None): Unit = {
    val rows = fromRows.getOrElse(LedgerGuard.readParquetSniffed(spark, genDir))
    val numHashes = rows.columns.count(_.startsWith("mh"))
    if (numHashes == 0 || numHashes % bandSize != 0) return
    val keyed = withSigKey(rows, numHashes)
    // __rep: min long-cast member id per distinct signature — any member
    // stands for the group (identical signatures collide in every band,
    // so all members share one cluster label); min keeps it
    // deterministic. NULL when the ledger's ids don't cast to long —
    // only the CLUSTER family (long ids by contract) consumes __rep.
    val idCol = rows.columns
      .filterNot(c => c.startsWith("mh") || c == "__sig").head
    val groups = keyed.groupBy(col("__sig")).agg(
      min(col(idCol).cast("long")).as("__rep"),
      (0 until numHashes).map(i => first(col(s"mh$i")).as(s"mh$i")): _*)
    lshBandsCarry(groups, Seq("__sig", "__rep"), numHashes, bandSize)
      .write.mode("overwrite")
      .parquet(s"$genDir/${sigIndexDirName(bandSize)}/bands")
  }

  /** The readable generation's rows plus its bound index (both from ONE
    * readablePath resolution — the bindBigram discipline): Some(bands)
    * iff the index subdir is present AND complete for this band shape
    * (`bands/_SUCCESS`). The rows come back as a THUNK: building the
    * DataFrame pays a schema-inference job (the id column's type varies
    * per ledger), and the index-bound cluster advance never touches the
    * rows at all — forcing it eagerly cost one job per advance for
    * nothing (d66 job dissection).
    */
  private def boundSigLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, bandSize: Int): (() => DataFrame, Option[DataFrame]) = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = LedgerGuard.readablePath(fs, target)
    val rows = () => LedgerGuard.readParquetSniffed(spark, gen.toString)
    val index = try {
      val idx = new org.apache.hadoop.fs.Path(gen, sigIndexDirName(bandSize))
      if (fs.exists(new org.apache.hadoop.fs.Path(idx, "bands/_SUCCESS")))
        Some(spark.read.schema(SigIndexSchema).parquet(s"$idx/bands"))
      else None
    } catch { case _: java.io.IOException => None }
    (rows, index)
  }

  /** Drop every band-shape variant of the index in the APPEND
    * destination — called BEFORE the append lands (crash between
    * delete and append leaves no index and no rows: merely slower;
    * the reverse order could leave a stale index silently missing
    * the appended rows).
    */
  private def invalidateSigIndex(spark: org.apache.spark.sql.SparkSession,
      appendDest: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(appendDest)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fail LOUD: a swallowed delete failure here would let the append
    // land under a live stale index, and every later probe would bind
    // it and silently miss collisions with the appended rows — the
    // exact recall loss the delete-BEFORE-append ordering prevents.
    // (Aborting the append instead is merely "retry the batch".)
    // ONE listing per append (r17: the r16 form re-listed the dir after
    // the delete loop; the per-dir exists-after-delete below preserves
    // the same guarantee — no SIG_INDEX dir survives a non-throwing
    // return — with strictly fewer metadata calls).
    val stale =
      if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(dir).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(LedgerGuard.SidecarPrefix + "SIG_INDEX"))
    stale.foreach { st =>
      val deleted = fs.delete(st.getPath, true)
      if (!deleted && fs.exists(st.getPath))
        throw new java.io.IOException(
          s"signature-ledger append to $appendDest aborted: could not " +
          s"invalidate stale probe index ${st.getPath} (delete returned " +
          "false) — appending under a live stale index would silently " +
          "lose collisions")
      if (deleted && fs.exists(st.getPath))
        throw new java.io.IOException(
          s"signature-ledger append to $appendDest aborted: stale probe " +
          s"index ${st.getPath} remains after a delete that reported " +
          "success")
    }
  }

  /** The shared cross-pair core over two signature tables: identical-
    * signature collapse on BOTH sides (same exactness argument as
    * [[lshCandidatePairs]]; equal-signature cross pairs need no
    * self-edge arm — the two group rows are distinct and collide in
    * every band on their own), banded join per distinct signature,
    * linear expansion back to member ids.
    */
  private def crossPairsOfSigs(n: DataFrame, c: DataFrame, idCol: String,
      numHashes: Int, bandSize: Int): DataFrame =
    crossPairsCore(n, c, None, idCol, numHashes, bandSize)

  /** [[crossPairsOfSigs]] with the corpus side optionally PRE-BANDED
    * (the at-rest index [[writeSigIndex]] persists): with the index
    * bound, the corpus band table is one columnar read (no groupBy
    * shuffle, no band derivation), and the member expansion reads the
    * raw rows WITHOUT the replay-collapse dropDuplicates shuffle —
    * the index's presence certifies the generation is append-free
    * since creation/compaction, i.e. one row per (sig, id) already.
    * Identical output by construction (OperatorsSpec pins it).
    *
    * HARD PRECONDITION on `n` (the batch side): one row per id —
    * every caller must build it from [[minHashSignatures]], whose
    * groupBy(id) emits exactly one row per id, so (sig, id) is
    * distinct by construction and the batch-side member expansion
    * needs no dedup. A caller feeding raw/replayed signature rows
    * (duplicate (sig, id)) multiplies every emitted pair once per
    * copy — OperatorsSpec pins that failure mode so the invariant
    * cannot rot silently.
    */
  /** One row per DISTINCT signature (all group members share every mh
    * value — that is what __sig digests, so first() is exact).
    */
  private def sigGroups(t: DataFrame, numHashes: Int): DataFrame =
    t.groupBy(col("__sig")).agg(
      (0 until numHashes).map(i => first(col(s"mh$i")).as(s"mh$i")).head,
      (1 until numHashes).map(i => first(col(s"mh$i")).as(s"mh$i")): _*)

  private def sigBands(g: DataFrame, as: String, numHashes: Int,
      bandSize: Int): DataFrame =
    lshBands(g, "__sig", numHashes, bandSize)
      .select(col("__sig").as(as), col("band"), col("bucket"))

  private[operators] def crossPairsCore(n: DataFrame, c: DataFrame,
      cIndex: Option[DataFrame], idCol: String,
      numHashes: Int, bandSize: Int,
      aggBands: Boolean = true): DataFrame = {
    def groupsOf(t: DataFrame): DataFrame = sigGroups(t, numHashes)
    def bandsOf(g: DataFrame, as: String) = sigBands(g, as, numHashes, bandSize)
    // member expansion is per DISTINCT (sig, id): a replayed ledger
    // append (crash-and-retry ingest) stores identical signature rows
    // twice, and without this collapse every later probe would emit
    // each pair once per copy. dropDuplicates costs one shuffle of
    // (md5, id) pairs — noise next to the groupsOf shuffle both sides
    // already pay. The index side skips BOTH (see the Scaladoc).
    val (cBands, cMem) = cIndex match {
      case Some(bands) => (
        bands.select(col("__sig").as("__sc"), col("band"), col("bucket")),
        c.select(col("__sig").as("__sc"), col(idCol).as("corpus_id")))
      case None => (
        bandsOf(groupsOf(c), "__sc"),
        c.select(col("__sig").as("__sc"), col(idCol).as("corpus_id"))
          .dropDuplicates())
    }
    // aggBands = false (CONNECTIVITY-ONLY callers, i.e. the cluster
    // ledger's advance): skip the (__sn, __sc) count aggregate — its
    // exchange exists only to compute n_bands and collapse per-band
    // duplicate collisions, but connected components is duplicate-
    // tolerant and never reads n_bands, so the shuffle bought nothing
    // there. Pair-emitting callers (d38/d48 output n_bands per DISTINCT
    // pair) keep the aggregate.
    val collisions = broadcast(bandsOf(groupsOf(n), "__sn"))
      .join(cBands, Seq("band", "bucket"))
    val edges =
      if (aggBands)
        collisions.groupBy(col("__sn"), col("__sc"))
          .agg(count(lit(1)).as("n_bands"))
      else collisions.select(col("__sn"), col("__sc"))
    // NO dropDuplicates on the batch-side member expansion: every
    // caller builds `n` from minHashSignatures, whose groupBy(id)
    // emits exactly one row per id — (sig, id) is distinct by
    // construction, and the collapse shuffle bought nothing (one
    // exchange per probe across d38/d48/d66-advance). The CORPUS side
    // keeps its collapse above: ledger reads can carry replayed
    // duplicate rows.
    val expanded = edges
      .join(n.select(col("__sig").as("__sn"), col(idCol).as("new_id")), "__sn")
      .join(cMem, "__sc")
    if (aggBands)
      expanded.select(col("new_id"), col("corpus_id"), col("n_bands"))
    else expanded.select(col("new_id"), col("corpus_id"))
  }

  /** Persist the corpus side of [[crossDedupPairs]] — the at-rest
    * near-dup counterpart of the digest ledger, and the missing half of
    * that operator's own steady-state contract: ingest computes minhash
    * signatures once per document at admission, and every later batch
    * probes them WITHOUT re-reading or re-shingling the corpus (at
    * 100 TB the shingle pass dwarfs the banded join — this ledger makes
    * incremental near-dup O(batch)). Row shape: `idCol`, `mh0..mhk-1`
    * (~8 ints/doc at rest). Append-only; a replayed append (crash-and-
    * retry) stores duplicate rows, which probes tolerate (the member
    * expansion collapses per distinct (sig, id)) and
    * [[compactSignatureLedger]] removes at rest along with the
    * accreted small files.
    *
    * The ledger is SELF-DESCRIBING: creation persists its
    * (numHashes, shingleSize) in a `_GRAFT_SIG_META` sidecar inside the
    * generation dir (the same treatment the sketch ledger gives its
    * lgK — the ledger must remember its own parameters), and every
    * append/probe validates the caller's values against it, failing
    * loudly naming both sides on mismatch. Without the check a
    * numHashes mismatch fails accidentally on the missing `mh` columns
    * but a shingleSize mismatch SILENTLY degrades recall — an ingest
    * job upgraded with a new default would quietly stop finding
    * near-dups. The sidecar rides through compaction via
    * [[LedgerGuard.advanceInPlace]]'s `_GRAFT_` carry-forward.
    */
  def writeSignatureLedger(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, shingleSize: Int = 5): Unit = {
    Ledger.create(df.sparkSession, path, SigSpec,
      minHashSignatures(df, idCol, textCol, numHashes, shingleSize)
        .filter(col("mh0").isNotNull),
      sigParams(numHashes, shingleSize))
    // NO pre-banded index at creation: the standalone ledger's steady
    // state is append-then-probe ingest, and the first append drops
    // the index — creation-time banding would be a pure write tax
    // (measured +0.9 s on d48's cycle). [[compactSignatureLedger]]
    // writes it; the CLUSTER ledger's creation does too (its advance
    // probes immediately — the build-then-ingest shape).
  }

  /** The signature ledger's creation-time parameters
    * (`numHashes=<k>\nshingleSize=<n>`): every append/probe runs the
    * fail-loudly drift guard against them — signatures built with
    * different shingling are incomparable, and the resulting recall
    * loss is silent.
    */
  private val SigParams = Ledger.Params(LedgerGuard.SidecarPrefix + "SIG_META",
    "signature ledger", "mixed shingling silently degrades near-dup recall")

  private val SigSpec = Ledger.Spec("signature ledger", Nil,
    Ledger.Merge.UnionDistinct, params = Some(SigParams))

  private def sigParams(numHashes: Int, shingleSize: Int) =
    Seq("numHashes" -> numHashes, "shingleSize" -> shingleSize)

  /** Admit a batch's signatures (append-only, like [[appendToLedger]]).
    * Pass rows already vetted for admission — the ledger should hold
    * what the corpus kept. An optional exactly-once `batchId` makes a
    * replayed delivery a full no-op (marker fast-path, the cluster
    * ledger's regime) — without one, replays stay tolerated the LSM
    * way (probes collapse duplicates; compaction removes them) but
    * re-pay the batch's hash work and re-append its rows.
    */
  def appendToSignatureLedger(batch: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, shingleSize: Int = 5,
      batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    // the pre-banded index is about to go stale: drop it BEFORE the
    // rows land (see invalidateSigIndex for the crash-order argument)
    Ledger.append(spark, path, SigSpec, batchId, sigParams(numHashes, shingleSize),
      beforeWrite = invalidateSigIndex(spark, _))(
      minHashSignatures(batch, idCol, textCol, numHashes, shingleSize)
        .filter(col("mh0").isNotNull))
  }

  /** [[crossDedupPairs]] with the corpus side read from the at-rest
    * signature ledger: the batch side shingles O(batch), the corpus
    * side is a columnar scan of ids + signatures. Same output, same
    * collapse, same banded join.
    */
  def crossDedupAgainstSignatures(newDocs: DataFrame, idCol: String,
      textCol: String, path: String,
      numHashes: Int = 8, bandSize: Int = 4, shingleSize: Int = 5): DataFrame = {
    SigParams.check(newDocs.sparkSession, path, "probe",
      sigParams(numHashes, shingleSize))
    val (rows, index) = boundSigLedger(newDocs.sparkSession, path, bandSize)
    crossPairsCore(
      sigTable(newDocs, idCol, textCol, numHashes, shingleSize),
      withSigKey(rows(), numHashes), index,
      idCol, numHashes, bandSize)
  }

  /** Compact the signature ledger IN PLACE: collapse duplicate rows
    * (replayed appends) and rewrite the accreted per-batch small files
    * to `targetFiles` sized files — the same maintenance
    * [[compactLedger]] gives the digest ledger, for the same reason:
    * a steady-state ingest loop appends one file set per batch, and
    * the probe's "cheap columnar scan" otherwise fans out over
    * thousands of tiny files. Same staged swap, lease, and self-heal.
    */
  /** Test-only failpoint: fired after the main sized rewrite inside
    * [[compactSignatureLedger]]'s staged advance, so a spec can prove
    * a main-leg failure still awaits the concurrent index future and
    * leaves no `.idx` scratch residue. Production value is a no-op.
    */
  private[graft] var sigCompactMainLegFailpoint: () => Unit = () => ()

  /** Bounded await for a concurrent side lane (the Qf.concurrently
    * deadline discipline applied to the operator-internal overlaps): a
    * wedged lane must fail the caller loudly, never hang a maintenance
    * cycle forever. Same knob as the query-level helper.
    */
  private def awaitLane[T](f: scala.concurrent.Future[T]): T = {
    val sec = graft.queries.Qf.legTimeoutSec
    try scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(sec, "s"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new java.util.concurrent.TimeoutException(
          s"concurrent ledger lane still running after ${sec}s — wedged " +
            "lane; raise spark.graft.concurrentLegTimeoutSec if the work " +
            "is legitimately that long")
    }
  }

  /** Secondary-path await: a primary failure is already in flight, so
    * the lane's OWN failure must ride along as suppressed — dropping it
    * (the old `catch NonFatal => ()`) lost the lane's diagnostics
    * entirely when both legs failed.
    */
  private def awaitLaneSuppressed(f: scala.concurrent.Future[_],
      primary: Throwable): Unit =
    try { awaitLane(f); () }
    catch {
      case scala.util.control.NonFatal(e2) =>
        if (e2 ne primary) primary.addSuppressed(e2)
    }

  def compactSignatureLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000, bandSize: Int = 4): Unit =
    Ledger.compactWith(spark, path, SigSpec) { staging =>
      val led = Ledger.fold(SigSpec, Ledger.read(spark, path))
      // rebuild the pre-banded probe index CONCURRENT with the sized
      // rewrite: both derive from the same dedup'd frame, so the
      // index's wall cost hides under the rewrite. It writes into a
      // SIBLING scratch dir (writeSized's overwrite deletes `staging`
      // first — an in-flight subdir write there loses its _temporary)
      // and renames in after both jobs land, so it still rides into
      // the promoted generation with the swap. The dedup certificate
      // the index carries holds: the promoted rows ARE `led`.
      val idxTmp = staging + ".idx"
      val idxF = graft.queries.Qf.lane {
        writeSigIndex(spark, idxTmp, bandSize, fromRows = Some(led))
      }
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the scratch dir must be awaited AND removed on EVERY exit: if
      // the sized rewrite throws, an un-awaited index future would
      // keep mutating idxTmp after the caller observed failure, and a
      // completed index write would leave `.idx` residue next to the
      // staging dir the guard cleans up.
      try {
        // sort by the id column (first at-rest column) so file-level
        // min/max stats prune id-ranged reads
        Ledger.writeSized(spark, path, SigSpec, led, staging, targetFiles,
          maxRecordsPerFile)
        sigCompactMainLegFailpoint()
        awaitLane(idxF)
        val idxName = sigIndexDirName(bandSize)
        val src = new org.apache.hadoop.fs.Path(idxTmp, idxName)
        if (fs.exists(src)) // absent when the band shape skipped the write
          fs.rename(src, new org.apache.hadoop.fs.Path(staging, idxName))
      } catch {
        // await unconditionally (its own failure is SECONDARY to the
        // main-leg exception already in flight — attach, don't mask)
        case primary: Throwable =>
          awaitLaneSuppressed(idxF, primary)
          throw primary
      } finally fs.delete(new org.apache.hadoop.fs.Path(idxTmp), true)
    }

  // ------------------------------------------------------------------
  // Cluster-assignment ledger: near-dup CLUSTERING at rest (the d17
  // pipeline's ingest loop). Layout: an embedded signature ledger at
  // `<path>/sig` (the probe side — self-describing via its own
  // (numHashes, shingleSize) sidecar, so a drifted advance fails
  // loudly there) plus the assignments table `(node, label)` at
  // `<path>/asg`, label = the cluster's minimum member id, singletons
  // labeled by themselves.
  // ------------------------------------------------------------------

  /** Test-only failpoint: fired at the top of [[writeClusterLedger]]'s
    * concurrent /sig lane, so a spec can pin the half-created-ledger
    * contract — creation surfaces the sig-lane failure even when the
    * /asg leg completed (and clean-marked), and a subsequent advance
    * against the sig-less ledger fails loudly rather than proceeding.
    * Production value is a no-op.
    */
  private[graft] var clusterCreateSigLaneFailpoint: () => Unit = () => ()

  private def clusterSigPath(path: String) = path + "/sig"
  private[graft] def clusterAsgPath(path: String) = path + "/asg"
  private[graft] def clusterRmpPath(path: String) = path + "/rmp"

  /** Schema of the remap table `<path>/rmp`: labels absorbed into a
    * smaller-minimum component (`old_label` → `new_label`,
    * new < old always, so chains never cycle). Model-sized — one row
    * per cluster-MERGE event ever, not per document.
    */
  private val RemapSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("old_label",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("new_label",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The assignments table's fixed at-rest schema — written exclusively
    * by [[writeClusterLedger]]/[[advanceClusterLedger]] (both cast to
    * long), so readers pass it explicitly instead of paying a
    * schema-inference job per read (one footer job per advance AND per
    * assignments read, measured in the d66 job dissection).
    */
  private val AsgSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("label",
      org.apache.spark.sql.types.LongType, nullable = true)))

  /** The pre-banded probe index's fixed at-rest schema (md5 signature
    * digest, band ordinal, md5 bucket) — same rationale as
    * [[AsgSchema]]: one fewer schema-inference job per index-bound
    * probe.
    */
  private val SigIndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__sig",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("__rep",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.StringType, nullable = true)))

  /** The remap closure as (old_label → FINAL label) pairs, chains
    * followed transitively (L1→L2 stored by one advance, L2→L3 by a
    * later one ⇒ L1 resolves to L3). None when the table is absent
    * (pre-remap ledger) or empty. The `.collect()` is bounded by the
    * number of cluster-merge events since the last compaction — a
    * maintenance-log-sized table, never corpus-sized — and chains
    * strictly decrease, so the walk terminates.
    */
  /** The resolved assignments view over already-collected remap
    * entries: base + deltas, labels lifted through the chain closure,
    * replays dedup'd.
    */
  // CLEAN marker for the assignments store: present ⇔ the current
  // generation is a freshly folded base with no delta appends since
  // (written by create/compact, deleted by every advance BEFORE its
  // delta lands — a crash between the delete and the append leaves the
  // safe-but-slower unmarked state, never a lying marker). Readers of a
  // clean store skip the replay-collapse dropDuplicates — at 100 TB
  // that dedup is a corpus-wide shuffle paid on EVERY read of a store
  // that is clean in the steady state (read-mostly after compaction).
  private val AsgCleanFile = LedgerGuard.SidecarPrefix + "ASG_CLEAN"

  private def markAsgClean(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    LedgerGuard.writeSidecarMeta(spark, clusterAsgPath(path),
      AsgCleanFile, Seq("clean" -> "1"))

  private def clearAsgClean(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(
      Ledger.appendDir(spark, clusterAsgPath(path)))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, AsgCleanFile), false): Unit
  }

  private def asgClean(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    LedgerGuard.readSidecarMeta(spark, clusterAsgPath(path), AsgCleanFile)
      .isDefined

  private def resolvedView(spark: org.apache.spark.sql.SparkSession,
      path: String, entries: Map[Long, Long]): DataFrame = {
    // the user-facing form collapses replayed delta rows; the advance
    // uses [[resolvedViewRaw]] (its consumers tolerate duplicates).
    // A CLEAN store (no deltas since the last fold) has nothing to
    // collapse and skips the corpus-wide dedup shuffle outright.
    val raw = resolvedViewRaw(spark, path, entries)
    if (entries.isEmpty && asgClean(spark, path)) raw else raw.dropDuplicates()
  }

  /** Remap-resolved but UNDEDUPLICATED assignments (replayed delta
    * appends may repeat rows).
    */
  private def resolvedViewRaw(spark: org.apache.spark.sql.SparkSession,
      path: String, entries: Map[Long, Long]): DataFrame = {
    val raw = rawAssignments(spark, path)
    if (entries.isEmpty) raw
    else {
      def fin(x: Long): Long = {
        var v = x
        while (entries.contains(v)) v = entries(v)
        v
      }
      import spark.implicits._
      val rm = entries.keysIterator.map(k => (k, fin(k))).toSeq
        .toDF("__old", "__fin")
      raw.join(broadcast(rm), raw("label") === col("__old"), "left")
        .select(col("node"), coalesce(col("__fin"), raw("label")).as("label"))
    }
  }

  /** The raw (unresolved) remap entries, collected — None when the
    * table is absent. An empty generation is detected by LISTING the
    * directory (zero part files), not by running a Spark job: the
    * resolved-view read happens several times per maintenance cycle
    * and an empty remap log is the common case.
    */
  private def rawRemapEntries(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Map[Long, Long]] = {
    val rmp = new org.apache.hadoop.fs.Path(clusterRmpPath(path))
    val fs = rmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rmp)) return None
    val gen = LedgerGuard.readablePath(fs, rmp)
    val hasData = fs.listStatus(gen).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
    if (!hasData) return Some(Map.empty)
    Some(LedgerGuard.readLedgerWithSchema(spark, clusterRmpPath(path), RemapSchema)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** Raw stored assignment rows (base generation + delta appends,
    * labels unresolved, replays undeduplicated) — every consumer goes
    * through [[readClusterAssignments]] instead.
    */
  private def rawAssignments(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    LedgerGuard.readLedgerWithSchema(spark, clusterAsgPath(path), AsgSchema)

  /** Create the cluster ledger from the initial corpus: signatures
    * admitted to the embedded signature ledger, assignments from the
    * in-flight star-edge + connected-components pipeline (exactly
    * d17's), every document covered (no-edge docs label themselves).
    */
  def writeClusterLedger(docs: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, bandSize: Int = 4,
      shingleSize: Int = 5): Unit = {
    // shingle the corpus ONCE: the signature write, the star edges,
    // AND the assignments id set all read the cached signature table,
    // not the text pipeline (batch-bounded persist, released before
    // return — same rationale as connectedComponents' internal edge
    // persist). The cache keeps NULL-signature rows (explode_outer
    // gives every doc exactly one row) so the id set comes off it too
    // — the old `docs.select(id).distinct()` was a SECOND corpus scan
    // plus a distinct shuffle that groupBy(id) had already paid.
    val sigAll =
      minHashSignatures(docs, idCol, textCol, numHashes, shingleSize).persist()
    val sig = sigAll.filter(col("mh0").isNotNull)
    try {
      // THE WHOLE /sig + /rmp side runs in one concurrent lane: the
      // signature write, its meta, the pre-banded probe index (derived
      // off the CACHED signature frame — no read-back, no re-shingle;
      // the FIRST advance after creation is the common case, and it
      // probes without ever grouping/banding the stored rows) and the
      // empty remap seed. The /asg leg below reads only the same cached
      // signature table and writes a disjoint path, so the overlap is
      // pure scheduler-idle reclamation (local mode and cluster alike);
      // concurrent first-touch of the cache is safe (per-partition
      // loading locks — one leg computes, the other waits). Creation
      // has no partial-retry contract (a failed create is re-created
      // from scratch, unlike the advance's ordered self-heal), so no
      // cross-leg ordering is owed.
      val idxF = graft.queries.Qf.lane {
        clusterCreateSigLaneFailpoint()
        Ledger.create(docs.sparkSession, clusterSigPath(path), SigSpec, sig,
          sigParams(numHashes, shingleSize))
        writeSigIndex(docs.sparkSession, clusterSigPath(path), bandSize,
          fromRows = Some(sig))
        // seed the (empty) remap table in the same side lane: advances
        // append label-merge events here instead of rewriting the
        // assignments table; independent of the /asg leg below
        docs.sparkSession.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), RemapSchema)
          .write.mode("overwrite").parquet(clusterRmpPath(path))
      }
      // await idxF on EVERY exit (the compactClusterLedger discipline):
      // an asg-leg failure must not leave the sig lane still mutating
      // /sig in the background after the caller observed failure; the
      // sig lane's own failure rides along as suppressed.
      try {
        val cc = connectedComponents(
          starEdgesOfSigs(sig, idCol, numHashes, bandSize), "d1", "d2")
        sigAll.select(col(idCol).cast("long").as("node"))
          .join(cc, Seq("node"), "left")
          .select(col("node"), coalesce(col("label"), col("node")).as("label"))
          .write.mode("overwrite").parquet(clusterAsgPath(path))
        markAsgClean(docs.sparkSession, path) // fresh base: nothing to collapse
      } catch {
        case primary: Throwable =>
          awaitLaneSuppressed(idxF, primary)
          throw primary
      }
      // surface sig-lane failures HERE (creation must not return
      // "done" with a corrupt/absent-but-half-written sig store)
      awaitLane(idxF)
    } finally sigAll.unpersist(false)
  }

  /** Admit a batch and fold it into the clustering — O(batch) graph
    * work AND O(batch) writes, never a corpus-wide re-cluster or a
    * corpus-wide rewrite: the batch probes the signature ledger for
    * band collisions (same collision criterion full-corpus banding
    * applies, so connectivity matches a from-scratch run — the d66
    * oracle pins it), corpus endpoints lift to their cluster LABELS,
    * and connected components runs over a graph whose nodes are batch
    * ids + touched labels only.
    *
    * Persistence is LSM-shaped (the r9 verdict's d66 ceiling — the
    * per-advance O(corpus) assignments rewrite — closed): the batch's
    * own `(node, label)` rows APPEND as a delta to `/asg`, and a batch
    * document bridging two existing clusters records the losing
    * label's merge as a row in the model-sized `/rmp` remap table
    * (old_label → new_label; readers resolve chains transitively, so
    * no stored row is ever rewritten by an advance). The remap rewrite
    * under the staged swap is merge-event-sized, the exactly-once
    * `batchId` marker lands on the remap ledger after every write of
    * the advance, and [[compactClusterLedger]] folds
    * deltas + remaps back into a clean sorted base — compaction pays
    * the O(corpus) write ONCE per maintenance cycle instead of every
    * advance paying it. Replay-safe end to end: a retried advance
    * re-derives identical rows (probe collapses the replayed signature
    * rows; labels are already minimal), the duplicate delta rows
    * collapse in [[readClusterAssignments]]'s dedup and at compaction,
    * and the marker skips the whole advance outright.
    */
  /** The CC edge list for a cluster-ledger advance, FUSED into one
    * banded star pass: the union of the batch's banded rows and the
    * TOUCHED stored bands lifted to their cluster labels, contracted
    * per (band, bucket) by the same window-min star as
    * [[starEdgesOfSigs]]. Replaces the old composition (pairwise probe
    * = banded join + batch member expansion + corpus member expansion
    * + label join, UNIONed with separate internal star edges) at about
    * half the exchanges. Connectivity is identical:
    *  - batch–batch: two batch docs sharing a bucket connect through
    *    the bucket star exactly as the old internal star edges did;
    *  - batch–corpus: a batch doc sharing a bucket with a stored
    *    signature connects to that signature's cluster LABEL through
    *    the same star (the old bc edges connected them pairwise; CC
    *    needs only the component);
    *  - label–label inside one bucket can never link two DISTINCT
    *    labels: stored rows sharing a (band, bucket) already share one
    *    resolved label — creation and every prior advance applied this
    *    same collision criterion — so those rows carry equal __n and
    *    the star emits nothing for them. The fused pass cannot merge
    *    two corpus clusters the pairwise probe would have left apart.
    *  - replayed batch rows (ids already stored) reduce to
    *    batch-id–own-label edges, a tautology to CC, exactly like the
    *    old probe's `new_id =!= corpus_id` self-pair drop.
    * Scale shape (the 100 TB argument): stored bands are pre-filtered
    * by a broadcast semi-join against the batch's banded keys, and each
    * stored signature carries ONE representative member id (__rep —
    * baked into the probe index at build time, or picked by the same
    * aggregation that derives the bands when the index is absent;
    * members of one signature collide in every band, hence share a
    * label), so the window sees O(batch + touched signatures) rows and
    * the label join streams O(touched) against the assignments — probe
    * cost tracks batch + matches, never the corpus. A boilerplate
    * mega-bucket costs a linear window partition where the old pairwise
    * probe emitted a quadratic batch×members fan-out.
    */
  private[graft] def advanceEdges(sig: DataFrame, storedRows: () => DataFrame,
      storedIdx: Option[DataFrame], asg: DataFrame, idCol: String,
      numHashes: Int, bandSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batchBands = lshBands(sig, idCol, numHashes, bandSize)
      .select(col(idCol).cast("long").as("__n"), col("band"), col("bucket"))
    // stored side pre-banded WITH its representative member id when the
    // index is bound (one columnar read, no member scan at all);
    // derived per distinct signature otherwise — the same single
    // aggregation that groups the signatures also picks the rep and
    // collapses replayed duplicate rows
    val cBandsRep = storedIdx match {
      case Some(bands) => bands.select(col("__rep"), col("band"), col("bucket"))
      case None =>
        val keyed = withSigKey(storedRows(), numHashes)
        val groups = keyed.groupBy(col("__sig")).agg(
          min(col(idCol).cast("long")).as("__rep"),
          (0 until numHashes).map(i => first(col(s"mh$i")).as(s"mh$i")): _*)
        lshBandsCarry(groups, Seq("__rep"), numHashes, bandSize)
    }
    val touched = cBandsRep.join(
      broadcast(batchBands.select(col("band"), col("bucket"))),
      Seq("band", "bucket"), "left_semi")
    // lift each touched signature to its cluster label through its rep
    // member — ONE join against the assignments; every member of a
    // signature shares the label (identical signatures collide in every
    // band), so the rep stands for the group
    val storedLabeled = touched
      .join(asg.select(col("node").as("__rep"), col("label")), Seq("__rep"))
      .select(col("label").as("__n"), col("band"), col("bucket"))
    val w = Window.partitionBy(col("band"), col("bucket"))
    batchBands.unionByName(storedLabeled)
      .withColumn("d1", min(col("__n")).over(w))
      .filter(col("__n") =!= col("d1"))
      .select(col("d1"), col("__n").as("d2"))
  }

  def advanceClusterLedger(batch: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Option[String] = None, numHashes: Int = 8,
      bandSize: Int = 4, shingleSize: Int = 5): Unit = {
    val spark = batch.sparkSession
    // Drift guard, then the replay fast-path (the Ledger exactly-once
    // rule): a batchId the remap ledger already recorded makes
    // the WHOLE advance a no-op — appends included. The swap-side marker
    // alone only guarded merge-bearing advances; a hot retry loop around
    // a no-merge batch would otherwise re-append duplicate sig/asg delta
    // rows every pass (reader-tolerated, but unbounded until compaction).
    SigParams.check(spark, clusterSigPath(path), "probe",
      sigParams(numHashes, shingleSize))
    if (Ledger.applied(spark, clusterRmpPath(path), batchId)) return
    // shingle the batch ONCE: the probe, the signature append, the
    // internal star edges, and the assignments id set all read this
    // cached table (batch-bounded persist, released before return) —
    // the naive composition re-shingled the batch three times per
    // advance, and the id set later re-scanned the RAW batch a second
    // time (plus a distinct shuffle groupBy(id) had already paid;
    // NULL-signature rows stay in the cache precisely so the id set
    // can come off it — explode_outer keeps one row per doc)
    val sigAll =
      minHashSignatures(batch, idCol, textCol, numHashes, shingleSize).persist()
    val sig = sigAll.filter(col("mh0").isNotNull)
    try {
      // probe BEFORE admitting (a fresh batch never collides with itself;
      // replayed rows reduce to own-label tautologies); the stored side
      // binds the pre-banded index when creation/compaction left one —
      // then the fused edge pass reads (sig, band, bucket)/(sig, id)
      // columnar and never groups or bands the stored rows
      val (storedSig, storedIdx) =
        boundSigLedger(spark, clusterSigPath(path), bandSize)
      // the RESOLVED view (base + deltas, remap chains applied): labels
      // seen here are always current, so new remap entries chain onto
      // current labels and resolution stays a simple walk; the remap
      // entries are collected ONCE per advance and reused for the
      // staging union below. UNDEDUPLICATED on purpose: the advance's
      // consumers tolerate replayed duplicate rows (duplicate edges
      // are a no-op to CC; existingLabels distincts anyway), so the
      // corpus-wide dropDuplicates shuffle the user-facing read pays
      // is pure overhead here — measured 2 shuffles/advance at bench
      // scale (SCALE.md round-11 d66 A/B)
      val existingRemap = rawRemapEntries(spark, path).getOrElse(Map.empty)
      val asg = resolvedViewRaw(spark, path, existingRemap)
      // MATERIALIZE the component labels (connectedComponents counts
      // its edge cache eagerly) BEFORE any mutation: the edge plan
      // may be bound to the pre-banded index, whose files the append
      // below deletes — executing it first reads a deterministic
      // pre-append snapshot (the old action-time read could also see
      // the batch's own appended rows; harmless, but no longer
      // possible).
      //
      // Persistence ORDER is what makes a crash-then-retry exact:
      // assignments, then the remap, then the signatures, then the
      // marker. The fused edge pass lifts each stored signature to ONE
      // member's label, which is sound only while every member of a
      // signature shares its resolved label. Signatures that landed
      // ahead of their remap (or their assignments) would break that
      // on the retry: a batch doc identical to a corpus doc would mask
      // the corpus label whose merge was never recorded. Until the
      // signatures land, a retry re-derives exactly this advance.
      val comp = connectedComponents(
        advanceEdges(sig, storedSig, storedIdx,
          asg, idCol, numHashes, bandSize), "d1", "d2")
      val batchAsg = sigAll.select(col(idCol).cast("long").as("node"))
        .join(comp, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
      // labels absorbed into a smaller-minimum component: only EXISTING
      // corpus labels can lose — the semi-join against the stored label
      // set keeps batch-node rows of `comp` out of the persisted remap
      // table (merge-event-sized, exactly the rows the r9 design's
      // rewrite join would have matched). Derived from `asg`, not from
      // the probe: `comp` is CC-cached but a probe-derived filter would
      // re-execute the whole signature probe inside the remap swap.
      // no .distinct() on the semi-join's right side: LEFT SEMI tests
      // existence only (never duplicates the left), so the corpus-wide
      // distinct shuffle the old form paid per advance bought nothing
      val existingLabels = asg.select(col("label").as("old_label"))
      val newRemap = comp.filter(col("node") =!= col("label"))
        .select(col("node").as("old_label"), col("label").as("new_label"))
        .join(existingLabels, Seq("old_label"), "left_semi")
      // merge events are model-sized by construction — collect them and
      // SKIP the staged remap swap when the advance produced nothing
      // new (every no-merge advance, and every replay: its merges were
      // applied last time, so the resolved view no longer shows the old
      // labels and the recomputed set is empty/contained). The swap is
      // the advance's single most expensive fixed cost (lease + staged
      // write + rename + sidecar carry ≈ 0.5 s at bench scale, SCALE.md
      // round-11 d66 A/B), paid only when a merge actually happened.
      // Collected CONCURRENT with the assignments append below (comp is
      // CC-cached; the asg read binds the pre-append snapshot, which
      // is the set "labels existing before this advance" the semantics
      // want — the old post-append read was equivalent only because
      // freshly appended labels are merge winners and can never match
      // a loser): the collect's join overlaps the appends' I/O.
      val newEntriesF = graft.queries.Qf.lane {
        newRemap.collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .filterNot { case (o, n) => existingRemap.get(o).contains(n) }
      }
      // O(batch) delta append — no stored assignment row is rewritten.
      // The clean marker falls FIRST: a crash in between leaves the
      // safe unmarked state (readers dedup), never a lying marker.
      clearAsgClean(spark, path)
      batchAsg.write.mode("append")
        .parquet(Ledger.appendDir(spark, clusterAsgPath(path)))
      val newEntries = awaitLane(newEntriesF)
      if (newEntries.nonEmpty) {
        // merge-event-sized remap rewrite under the staged swap
        val rmpPath = clusterRmpPath(path)
        val fs = new org.apache.hadoop.fs.Path(rmpPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(rmpPath)))
          spark.createDataFrame( // ledger predates the remap table: seed it
              new java.util.ArrayList[org.apache.spark.sql.Row](), RemapSchema)
            .write.mode("overwrite").parquet(rmpPath)
        // existing entries were collected once above; union them as a
        // literal relation instead of re-scanning parquet inside the
        // swap (one fewer job per advance)
        import spark.implicits._
        Ledger.swap(spark, rmpPath, "cluster-ledger remap advance") { staging =>
          (existingRemap.toSeq ++ newEntries).toDF("old_label", "new_label")
            .dropDuplicates()
            // overwrite: a stale staging dir left by a crash must not
            // wedge every later advance of this batch
            .write.mode("overwrite").parquet(staging)
        }
      }
      // the pre-banded index is about to go stale: drop it BEFORE the
      // rows land (crash in between: no index and no rows — just slower)
      val sigDest = Ledger.appendDir(spark, clusterSigPath(path))
      invalidateSigIndex(spark, sigDest)
      sig.write.mode("append").parquet(sigDest)
      // the exactly-once marker for the whole advance, on the remap
      // ledger, last: every replay before it re-derives the same rows
      Ledger.markApplied(spark, clusterRmpPath(path), batchId)
    } finally sigAll.unpersist(false)
  }

  /** Maintenance for all three parts: the signature side compacts to
    * sized files; the assignments side FOLDS the LSM state — delta
    * appends merged in, remap chains applied, replayed duplicates
    * collapsed — into a clean node-sorted base (file min/max stats
    * prune id-ranged reads); the remap table then resets to empty.
    * This is where the O(corpus) assignments write happens — ONCE per
    * maintenance cycle, not per advance. Crash between the two asg
    * steps is safe: the folded base carries resolved labels, and
    * re-applying the not-yet-cleared remap entries no-ops (their old
    * labels no longer occur). Same staged-swap/lease/manifest
    * discipline everywhere.
    */
  def compactClusterLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16, bandSize: Int = 4): Unit = {
    // the signature compaction and the assignments fold touch DISJOINT
    // stores (/sig vs /asg + /rmp) — run them concurrently: at bench
    // scale the cycle is scheduling-bound and the overlap reclaims the
    // idle cores; on a cluster the two swaps were always independent
    // (per-path locks + leases). The rmp reset below still waits for
    // the asg fold (it reads /rmp).
    val sigF = graft.queries.Qf.lane {
      compactSignatureLedger(spark, clusterSigPath(path), targetFiles,
        bandSize = bandSize)
    }
    // await sigF on EVERY exit: if the asg/rmp leg throws without this,
    // the signature compaction keeps mutating /sig on a background
    // thread after the caller observed failure, and its own exception
    // is lost. An asg-leg failure stays primary; the sig leg's own
    // failure surfaces when the fold succeeded.
    //
    // The clean marker and the remap reset depend ONLY on the asg fold
    // (they touch /asg + /rmp, never /sig), so they run INSIDE this leg
    // rather than after the sigF await — the remap-reset swap (two
    // small jobs + renames) overlaps the signature compaction's tail
    // instead of extending the cycle after it.
    try {
      Ledger.swap(spark, clusterAsgPath(path), "cluster-ledger compaction") { staging =>
        LayoutOps.writeSized(
          readClusterAssignments(spark, path),
          staging, col("node"), targetFiles, 64L * 1000 * 1000,
          srcBytes = LedgerGuard.readableDataBytes(spark, clusterAsgPath(path)))
      }
      // the folded base is clean: readers skip the replay-collapse dedup
      // until the next advance dirties it (marker written AFTER the swap;
      // a crash in between leaves the safe unmarked state)
      markAsgClean(spark, path)
      val rmpPath = clusterRmpPath(path)
      val fs = new org.apache.hadoop.fs.Path(rmpPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(rmpPath)))
        Ledger.swap(spark, rmpPath, "cluster-ledger remap reset") { staging =>
          spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), RemapSchema)
            .write.mode("overwrite").parquet(staging)
        }
    } catch {
      case primary: Throwable =>
        awaitLaneSuppressed(sigF, primary)
        throw primary
    }
    awaitLane(sigF)
  }

  /** Read the current assignments: `(node, label)` — the RESOLVED view
    * over the LSM state (base generation + per-advance delta appends,
    * labels lifted through the remap closure, replayed duplicates
    * collapsed). Right after a compaction this is a plain dedup'd scan
    * of the folded base.
    */
  def readClusterAssignments(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    resolvedView(spark, path, rawRemapEntries(spark, path).getOrElse(Map.empty))

  /** Star-contracted LSH candidate edges: within every (band, bucket),
    * connect each member to the bucket's MINIMUM id instead of emitting
    * all O(|bucket|²) pairs. The transitive closure (connected
    * components) over these star edges is identical to the closure over
    * the pairwise candidate edges — a bucket's clique and its star span
    * the same connectivity — but the edge count is Σ|bucket| rather than
    * Σ|bucket|², and every bucket collapses to graph-depth 1, so the CC
    * loop downstream converges in fewer rounds. One window shuffle on
    * (band, bucket), no self-join. Duplicate edges across bands are kept
    * (harmless to CC's reduce-by-min; a distinct would cost a shuffle).
    */
  def lshStarEdges(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bandSize: Int = 4, shingleSize: Int = 5): DataFrame =
    starEdgesOfSigs(
      minHashSignatures(docs, idCol, textCol, numHashes, shingleSize),
      idCol, numHashes, bandSize)

  /** [[lshStarEdges]] from an already-computed signature table — the
    * reuse seam the cluster ledger needs to shingle a batch exactly
    * once per advance.
    */
  private def starEdgesOfSigs(sig: DataFrame, idCol: String,
      numHashes: Int, bandSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = lshBands(sig, idCol, numHashes, bandSize)
    val w = Window.partitionBy(col("band"), col("bucket"))
    bands
      .withColumn("d1", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("d1"))
      .select(col("d1"), col(idCol).as("d2"))
  }

  /** Whole-table 16-bit SimHash: (idCol, simhash). Same explode+agg shape
    * as `minHashSignatures` — token digests run once per token, the 16
    * bit-sums are map-side partial aggregates.
    */
  /** SimHash CANDIDATE pairs: band on the high `16 - bandBits` simhash
    * bits (one equi-join shuffle), exact Hamming rescoring, threshold.
    * The band join runs over one representative per DISTINCT simhash —
    * same mega-bucket collapse as [[lshCandidatePairs]], and exact for
    * the same reason: Hamming distance is a function of the two hashes
    * alone, so every member pair inherits its representative pair's
    * distance, and within-group pairs are Hamming 0. A boilerplate-
    * saturated corpus (many docs, one hash) costs a linear membership
    * fan-out, never a quadratic bucket join.
    *
    * Recall contract — candidates, not completeness: a pair qualifies
    * only if its differing bits all fall OUTSIDE the banded high bits,
    * so pairs that differ in the high `16 - bandBits` bits are never
    * seen (single-band LSH recall, like one MinHash band). The
    * guaranteed-complete scheme is Manku et al.'s multi-block
    * permutation (band on every ⌈bits/(maxHamming+1)⌉-bit block so the
    * pigeonhole forces a collision); at this 16-bit toy width those
    * blocks collapse to near-empty buckets, so the single high-band
    * trade is deliberate and the d09/d12 oracles pin exactly it.
    * Output: (d1, d2, hamming), d1 < d2, hamming <= maxHamming among
    * the banded candidates.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, bandShift: Int = 8): DataFrame = {
    val h = simHash16Df(docs, idCol, textCol)
    // one row per DISTINCT simhash — the group key IS the signature
    val groups = h.groupBy(col("simhash")).agg(count(lit(1)).as("__size"))
    val a = groups.select(col("simhash").as("__ha"),
      shiftright(col("simhash"), bandShift).as("__band"))
    val b = groups.select(col("simhash").as("__hb"),
      shiftright(col("simhash"), bandShift).as("__band"))
    val edges = a.join(b, Seq("__band"))
      .filter(col("__ha") < col("__hb"))
      .select(col("__ha"), col("__hb"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .unionByName(groups.filter(col("__size") >= 2)
        .select(col("simhash").as("__ha"), col("simhash").as("__hb"),
          lit(0).as("hamming")))
    edges
      .join(h.select(col("simhash").as("__ha"), col(idCol).as("__m1")), "__ha")
      .join(h.select(col("simhash").as("__hb"), col(idCol).as("__m2")), "__hb")
      .filter(col("__ha") =!= col("__hb") || col("__m1") < col("__m2"))
      .select(least(col("__m1"), col("__m2")).as("d1"),
        greatest(col("__m1"), col("__m2")).as("d2"), col("hamming"))
  }

  /** 60-bit SimHash over whitespace tokens — the production-width
    * sibling of [[simHash16Df]] (Charikar 2002 / Manku et al. 2007 use
    * 64; 60 = the widest md5 prefix both engines parse into a signed
    * long, so the conformance oracle can re-derive every bit). ONE
    * fused per-row kernel (`Md5Util.simHash60`: byte walk + per-token
    * md5 + 60 local bit-sums + sign `> 0` fold) — simhash is a pure
    * function of the document, so no explode, no 60-wide aggregation,
    * NO SHUFFLE; at 100 TB the signature pass is exactly one corpus
    * scan. [[simHash60AggDf]] is the composable explode/agg form the
    * spec pins the kernel against, bit for bit. Pair generation
    * belongs to [[hammingPairs]] — which, at this width, can afford
    * Manku's COMPLETE multi-block banding instead of the 16-bit toy's
    * single-band recall trade.
    */
  def simHash60Df(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims
    df.select(col(idCol), GraftSqlShims.column(graft.functions.SimHash60(
      GraftSqlShims.expression(col(textCol)))).as("simhash"))
  }

  /** The composable reference form of [[simHash60Df]] (explode + 60
    * map-side partial sums): same rows, kept as the parity witness the
    * unit spec checks the fused kernel against.
    */
  private[graft] def simHash60AggDf(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val aggs = (0 until 60).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"__b$j"))
    val bitSums = df
      .select(col(idCol),
        explode(transform(TextOps.tokens(col(textCol)), t => md5Hash60(t))).as("__h"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
    val combined = (0 until 60).map(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    bitSums.select(col(idCol), combined.as("simhash"))
  }

  def md5Hash60(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlShims
    GraftSqlShims.column(graft.functions.Md5Hash60(GraftSqlShims.expression(c)))
  }

  /** COMPLETE Hamming-distance self-join over any ≤63-bit fingerprint
    * column (SimHash60, aHash64-folded, any bit sketch): all pairs with
    * `bit_count(a XOR b) <= maxHamming`, found by Manku et al. 2007's
    * multi-block pigeonhole — partition the `bits` positions into
    * `maxHamming + 1` near-equal disjoint blocks; a pair within the
    * distance budget cannot differ in every block, so it MUST collide
    * on at least one block's equi-join. Unlike [[simHashPairs]]'
    * single-band trade this misses nothing: candidates ⊇ true pairs,
    * and the exact `bit_count` rescore keeps precision 1 — the output
    * is exactly the brute-force O(n²) join's, at banded cost.
    *
    * Scale shape: the join runs over one representative per DISTINCT
    * hash (the d10/d12 collapse — within-group pairs are Hamming 0 by
    * identity and bypass the join); each distinct hash emits
    * `maxHamming + 1` block rows, block joins shuffle on the 12-byte
    * (block, value) key, and a pair colliding in several blocks is
    * deduped BEFORE the members expand. Hot blocks mean hashes sharing
    * a block value — at web scale that is the near-dup mass itself, and
    * the exact rescore bounds the damage to candidate volume (pick
    * `maxHamming` so block width stays ≥ ~6 bits; width < 4 turns a
    * block into a 16-bucket hot join, the documented ceiling).
    *
    * Full 64-bit fingerprints (aHash): pass `bits = 63` — banding on
    * the low 63 positions stays COMPLETE for 64-bit Hamming, because a
    * pair within budget has ≤ maxHamming differing bits in the banded
    * subset too (uncovered positions only SHRINK the covered count),
    * so some block is still clean; the `bit_count` rescore and the
    * distinct-hash collapse see all 64 bits either way.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming for $bits bits")
    val blocks = maxHamming + 1
    // the signature table derives several plan arms (banding both
    // sides, the within-group arm, both member expansions) — lazily
    // checkpoint it so the upstream scan-and-hash computes ONCE (the
    // pairsOfFrameSignatures contract; blocks are MEMORY_AND_DISK on
    // executors, 16 B/row)
    val h = hashes.select(col(idCol), col(hashCol).as("__hash"))
      .localCheckpoint(false)
    val groups = h.groupBy(col("__hash")).agg(count(lit(1)).as("__size"))
    // near-equal disjoint blocks: block i covers
    // [⌊i·bits/blocks⌋, ⌊(i+1)·bits/blocks⌋) — every block nonempty
    val blockStructs = (0 until blocks).map { i =>
      val lo = i * bits / blocks
      val hi = (i + 1) * bits / blocks
      struct(lit(i).as("bi"),
        shiftright(col("__hash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1)).as("bv"))
    }
    val banded = groups.select(col("__hash"),
        explode(array(blockStructs: _*)).as("__blk"))
      .select(col("__hash"), col("__blk.bi").as("__bi"), col("__blk.bv").as("__bv"))
    val edges = banded.select(col("__hash").as("__ha"), col("__bi"), col("__bv"))
      .join(banded.select(col("__hash").as("__hb"), col("__bi"), col("__bv")),
        Seq("__bi", "__bv"))
      .filter(col("__ha") < col("__hb"))
      .select(col("__ha"), col("__hb")).dropDuplicates() // multi-block collisions
      .select(col("__ha"), col("__hb"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .unionByName(groups.filter(col("__size") >= 2)
        .select(col("__hash").as("__ha"), col("__hash").as("__hb"),
          lit(0).as("hamming")))
    edges
      .join(h.select(col("__hash").as("__ha"), col(idCol).as("__m1")), "__ha")
      .join(h.select(col("__hash").as("__hb"), col(idCol).as("__m2")), "__hb")
      .filter(col("__ha") =!= col("__hb") || col("__m1") < col("__m2"))
      .select(least(col("__m1"), col("__m2")).as("d1"),
        greatest(col("__m1"), col("__m2")).as("d2"), col("hamming"))
  }

  /** Bipartite form of [[hammingPairs]] — all (left, right) pairs with
    * `bit_count(lHash XOR rHash) <= maxHamming`, complete by the same
    * multi-block pigeonhole (equal hashes collide in every block, so
    * the bipartite join needs no separate within-group arm; the
    * multi-collision dedup happens before members expand). The probe
    * shape of the 60-bit SimHash family: new batch vs at-rest corpus
    * signatures, never corpus × corpus.
    */
  def hammingJoin(left: DataFrame, leftId: String, leftHash: String,
      right: DataFrame, rightId: String, rightHash: String,
      maxHamming: Int, bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming for $bits bits")
    val blocks = maxHamming + 1
    def blockRows(h: DataFrame, hc: String, as: String): DataFrame = {
      val structs = (0 until blocks).map { i =>
        val lo = i * bits / blocks
        val hi = (i + 1) * bits / blocks
        struct(lit(i).as("bi"),
          shiftright(col(hc), lo).bitwiseAND(lit((1L << (hi - lo)) - 1)).as("bv"))
      }
      h.select(col(hc).as(as), explode(array(structs: _*)).as("__blk"))
        .select(col(as), col("__blk.bi").as("__bi"), col("__blk.bv").as("__bv"))
    }
    // the LEFT (probe/batch) side feeds two arms (banding distinct +
    // member expansion): checkpoint it so the batch scans and hashes
    // once. The RIGHT side is typically an at-rest signature ledger —
    // its two arms re-read a compact columnar file, which at corpus
    // scale is cheaper than caching corpus-wide signature blocks.
    val l = left.select(col(leftId), col(leftHash).as("__lh"))
      .localCheckpoint(false)
    val r = right.select(col(rightId), col(rightHash).as("__rh"))
    val lDistinct = l.select(col("__lh")).distinct()
    val rDistinct = r.select(col("__rh")).distinct()
    val cand = blockRows(lDistinct, "__lh", "__lh")
      .join(blockRows(rDistinct, "__rh", "__rh"), Seq("__bi", "__bv"))
      .select(col("__lh"), col("__rh")).dropDuplicates()
      .select(col("__lh"), col("__rh"),
        bit_count(col("__lh").bitwiseXOR(col("__rh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    cand.join(l, "__lh").join(r, "__rh")
      .select(col(leftId), col(rightId), col("hamming"))
  }

  // ------------------------------------------------------------------
  // SimHash signature ledger — the at-rest form of [[simHash60Df]] for
  // the steady-state ingest loop (the d48 regime applied to the 60-bit
  // family): admission computes each document's simhash ONCE (the
  // fused per-row kernel — one corpus scan, no shuffle), and every
  // later batch probes the stored `(id, simhash)` rows via the
  // COMPLETE bipartite Hamming join without re-reading corpus text.
  // Append-only; replayed appends store duplicate rows, which probes
  // tolerate (distinct hashes drive the join; member expansion dedups)
  // and compaction removes at rest. `_GRAFT_SIMHASH_META` persists the
  // tokenizer tag — simhashes under different tokenizations are
  // incomparable, so drifted appends/probes fail loudly naming both
  // sides.
  // ------------------------------------------------------------------

  private val BloomParams = Ledger.Params(LedgerGuard.SidecarPrefix + "BLOOM_META",
    "bloom ledger", "a bloom OR-merge is only sound between identically-" +
      "sized, identically-hashed filters over the same digest", strict = true)

  private val BloomSpec = Ledger.Spec("bloom membership ledger", Nil,
    Ledger.Merge.Sketch(), layout = Ledger.Layout.OneFile,
    params = Some(BloomParams))

  private def bloomParams(digestTag: String, expectedItems: Long, fpp: Double) =
    Seq("digestTag" -> digestTag, "expectedItems" -> expectedItems, "fpp" -> fpp)

  private def bloomOf(df: DataFrame, digestCol: Column, expectedItems: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    df.select(digestCol.cast("long").as("__h")).stat
      .bloomFilter("__h", expectedItems, fpp)

  private def bloomBytes(f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    f.writeTo(bos)
    bos.toByteArray
  }

  /** The at-rest filter, deserialized. */
  def readBloomLedger(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.util.sketch.BloomFilter =
    bloomFrom(Ledger.read(spark, path))

  private def bloomFrom(rows: DataFrame): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      rows.select(col("bloom_bits")).head().getAs[Array[Byte]](0)))

  private def bloomRows(spark: org.apache.spark.sql.SparkSession,
      f: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import spark.implicits._
    Seq(bloomBytes(f)).toDF("bloom_bits")
  }

  /** At-rest BLOOM MEMBERSHIP ledger over a 64-bit digest — the
    * constant-size prefilter in front of the exact digest ledger (d39):
    * at 100 TB the exact dedup join must eventually touch ledger
    * partitions, but "definitely new" documents (the common case on a
    * healthy crawl) can skip it entirely, because a Bloom filter has NO
    * FALSE NEGATIVES: `might_contain = false` is a proof of novelty.
    * The d24b decontamination filter made this argument per query; the
    * ledger form keeps ONE filter at rest and advances it per ingest.
    *
    * Merging is an OR of bit arrays, and OR-of-filters built with the
    * same sizing/hashing over batches IS the filter built over their
    * union, BIT-EXACTLY — so incremental ≡ from-scratch is testable to
    * the byte (the strongest conformance in the ledger family), and
    * retraction is structurally impossible (bits are shared) — forget =
    * rebuild, exactly the d71 boundary the HLL sketch ledger documents.
    * Sizing is fixed at creation (`expectedItems`, `fpp`) and gated by
    * the sidecar: merging differently-sized filters corrupts both, so
    * it fails loudly. Saturation is visible: probe FP rate rises past
    * `fpp` as inserts exceed `expectedItems` — size for the corpus
    * target, not the first batch.
    */
  def writeBloomLedger(docs: DataFrame, digestCol: Column, digestTag: String,
      expectedItems: Long, fpp: Double, path: String): Unit =
    Ledger.create(docs.sparkSession, path, BloomSpec,
      bloomRows(docs.sparkSession, bloomOf(docs, digestCol, expectedItems, fpp)),
      bloomParams(digestTag, expectedItems, fpp))

  /** Fold a batch into the at-rest filter IN PLACE (staged swap, lease,
    * manifest mode, exactly-once batchId with the replay fast-path).
    */
  def advanceBloomLedger(batch: DataFrame, digestCol: Column, digestTag: String,
      expectedItems: Long, fpp: Double, path: String,
      batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    Ledger.advanceWith(spark, path, BloomSpec, batchId,
      bloomParams(digestTag, expectedItems, fpp))(
      bloomOf(batch, digestCol, expectedItems, fpp)) { (stored, delta) =>
      bloomRows(spark, bloomFrom(stored).mergeInPlace(delta))
    }
  }

  /** Probe: `(idCol, might_contain)` — false is a PROOF the digest was
    * never admitted (route those rows around the exact join); true means
    * "check exactly" (FP rate ≤ the sized `fpp` while unsaturated). The
    * filter broadcasts; the batch streams — zero shuffle.
    *
    * A NULL digest (e.g. `md5Hash32(text)` of a NULL text) probes TRUE:
    * the filter can prove nothing about a row it never hashed, and the
    * conservative answer keeps the no-false-negative contract — the row
    * takes the exact path, where the digest family's own NULL
    * convention (rowFingerprint's \\u0001 sentinel) decides. Without the
    * coalesce, a NULL verdict would fall out of BOTH branch filters of
    * a prefilter composition (the d120 shape) and the row would
    * silently vanish.
    */
  def probeBloomLedger(batch: DataFrame, idCol: String, digestCol: Column,
      path: String, digestTag: String, expectedItems: Long,
      fpp: Double): DataFrame = {
    val spark = batch.sparkSession
    BloomParams.check(spark, path, "probe",
      bloomParams(digestTag, expectedItems, fpp))
    // shared codegen probe kernel (graft.functions.BloomMightContain) —
    // same task-binary distribution the explicit broadcast gave the
    // old UDF form, zero per-row UDF seam
    batch.select(col(idCol),
      coalesce(graft.functions.BloomExpressions.mightContain(
        digestCol.cast("long"), readBloomLedger(spark, path)),
        lit(true)).as("might_contain"))
  }

  private val SimHashParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "SIMHASH_META", "simhash ledger",
    "simhashes under different tokenizations are incomparable")

  private val SimHashSpec = Ledger.Spec("simhash ledger", Nil,
    Ledger.Merge.UnionDistinct, params = Some(SimHashParams))

  /** Create the simhash ledger from the initial corpus — one scan. */
  def writeSimHashLedger(df: DataFrame, idCol: String, textCol: String,
      path: String, tokenizerId: String = "ws-md5-60"): Unit =
    Ledger.create(df.sparkSession, path, SimHashSpec,
      simHash60Df(df, idCol, textCol), Seq("tokenizerId" -> tokenizerId))

  /** O(batch) append — crash-and-retry replays tolerated (see family
    * note); a pre-sidecar ledger adopts the caller's tag (trusted once).
    * Optional exactly-once `batchId`: see [[appendToSignatureLedger]].
    */
  def appendToSimHashLedger(batch: DataFrame, idCol: String, textCol: String,
      path: String, tokenizerId: String = "ws-md5-60",
      batchId: Option[String] = None): Unit =
    Ledger.append(batch.sparkSession, path, SimHashSpec, batchId,
      Seq("tokenizerId" -> tokenizerId))(simHash60Df(batch, idCol, textCol))

  /** Near-dup pairs of a NEW batch against the at-rest corpus
    * signatures: the batch simhashes per-row (one batch scan), the
    * corpus side is a columnar `(id, simhash)` read — corpus text is
    * never touched. Complete for the Hamming budget via
    * [[hammingJoin]]. Output: `(new_id, corpus_id, hamming)`.
    */
  def crossDedupAgainstSimHashes(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, maxHamming: Int = 6,
      tokenizerId: String = "ws-md5-60"): DataFrame = {
    val spark = newDocs.sparkSession
    SimHashParams.check(spark, path, "probe", Seq("tokenizerId" -> tokenizerId),
      mustExist = true)
    val led = Ledger.read(spark, path)
      .select(col(idCol), col("simhash")).dropDuplicates() // replayed appends
    hammingJoin(
      simHash60Df(newDocs, idCol, textCol)
        .withColumnRenamed(idCol, "new_id").withColumnRenamed("simhash", "__nh"),
      "new_id", "__nh",
      led.withColumnRenamed(idCol, "corpus_id").withColumnRenamed("simhash", "__ch"),
      "corpus_id", "__ch", maxHamming)
  }

  /** Right-to-be-forgotten for the simhash ledger — EXACT here (every
    * row is id-attributed, the m09 frame-ledger contract, unlike the
    * count-mergeable families' stated boundary): the forgotten ids'
    * rows leave the store and later probes stop pairing against them;
    * re-admission is one [[appendToSimHashLedger]]. Staged swap,
    * lease, manifest mode, exactly-once `batchId`.
    */
  def removeFromSimHashLedger(ids: DataFrame, idCol: String, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.remove(ids.sparkSession, path,
      SimHashSpec.copy(retract = Ledger.Retract.AntiJoin(idCol)), batchId)(
      ids.select(col(idCol)))

  /** Compact the simhash ledger IN PLACE: collapse replayed duplicate
    * rows, rewrite accreted per-batch small files id-sorted for stats
    * pruning — the [[compactSignatureLedger]] contract.
    */
  def compactSimHashLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path, SimHashSpec, targetFiles, maxRecordsPerFile)

  def simHash16Df(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val aggs = (0 until 16).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"__b$j"))
    val bitSums = df
      .select(col(idCol), explode(transform(TextOps.tokens(col(textCol)), t => md5Hash32(t, ""))).as("__h"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
    val combined = (0 until 16).map(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    bitSums.select(col(idCol), combined.cast("int").as("simhash"))
  }

  /** 16-bit SimHash over whitespace tokens: per bit, sum +1/-1 weighted by
    * the token hash's bit, take the sign. Per-row convenience form (the
    * token-hash array is re-evaluated per bit under CollapseProject —
    * use `simHash16Df` for whole-table runs).
    */
  def simHash16(text: Column): Column = {
    val tokenHashes = transform(TextOps.tokens(text), t => md5Hash32(t, ""))
    val bits = (0 until 16).map { j =>
      val w = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + when((shiftright(h, j).bitwiseAND(lit(1L))) === 1L, 1L).otherwise(-1L))
      when(w > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast("int")
  }

  /** Jaccard similarity of the distinct-token sets of two documents.
    * Per-row convenience form (re-tokenizes both sides inline — for
    * pairwise rescoring at scale, pre-materialize sorted distinct token
    * arrays per side and use [[sortedJaccard]] after the pair join).
    */
  def tokenJaccard(a: Column, b: Column): Column =
    sortedJaccard(
      array_sort(array_distinct(TextOps.tokens(a))),
      array_sort(array_distinct(TextOps.tokens(b))))

  /** Jaccard over pre-sorted, distinct string arrays via the fused
    * merge-count kernel: |∩| / (|a| + |b| − |∩|). Identical values to
    * `size(array_intersect) / size(array_union)` (the inputs are sets)
    * without the two per-pair hash-set builds — the d10 hotspot fix.
    */
  def sortedJaccard(sortedA: Column, sortedB: Column): Column = {
    val ic = graft.functions.VectorExpressions.intersectCountSorted(sortedA, sortedB)
    ic / (size(sortedA) + size(sortedB) - ic)
  }

  /** Asymmetric token-set CONTAINMENT over pre-sorted distinct arrays:
    * |∩| / min(|a|, |b|) (Broder 1997's containment measure, the
    * companion to resemblance/Jaccard). This is the doc-inside-doc
    * signal Jaccard structurally suppresses: a 100-token doc pasted
    * whole into a 10k-token doc scores Jaccard ≈ 0.01 (the union is
    * huge) but containment 1.0 — exactly the quote-farm / aggregator /
    * boilerplate-wrapper duplication a training-data pipeline must
    * catch. Same fused merge-count kernel as [[sortedJaccard]]; rescore
    * the LSH candidate pairs with BOTH and gate on either.
    */
  def sortedContainment(sortedA: Column, sortedB: Column): Column = {
    val ic = graft.functions.VectorExpressions.intersectCountSorted(sortedA, sortedB)
    ic / least(size(sortedA), size(sortedB))
  }

  /** Connected components over an undirected edge list (e.g. the LSH
    * candidate pairs): min-label propagation + pointer jumping. Every
    * node starts labeled with itself; each round a node takes the min of
    * its own and its neighbors\u0027 labels (one hop through the GRAPH), then
    * follows its label twice through the label map (two hops through the
    * label FOREST — path compression). At the fixpoint every member of a
    * component carries the component\u0027s minimum node id. Neighbor-min alone
    * needs DIAMETER rounds (near-dup corpora chain A~B~C~\u2026 into long
    * paths; measured 16 rounds at sf0.1); with jumping it converges in
    * O(log n) (measured 10 rounds over a giant ~10\u2074-edge component).
    *
    * The loop core is deliberately RDD-based \u2014 the one imperative-loop
    * escape hatch in this codebase (same reason GraphX is RDD-based): an
    * iterative algorithm re-plans a NEW Catalyst plan and re-runs AQE for
    * every round\u0027s action, which dominates wall-clock long before data
    * does. The RDD loop keys everything through one fixed
    * HashPartitioner, so the per-round join/reduceByKey chain reuses
    * co-partitioning with zero re-shuffle of the edge side, runs ONE
    * action per round, and truncates lineage with localCheckpoint (a
    * checkpoint dir on a real cluster).
    *
    * Scale design (100 TB): state per round is (node, label) pairs \u2014 the
    * wide payload never enters the loop; the edge list is partitioned
    * once and reused every round; rounds grow with log(component size),
    * not diameter. Node ids must be integral (they are cast to long).
    *
    * @return (node, label) \u2014 label = min node id of the component
    */
  /** Partition-local union-find: labels every node appearing in the edge
    * iterator with the minimum node id of its connected component.
    * Classic DSU with path halving + union by rank; a final sweep
    * replaces each root with its class minimum so labels match the
    * distributed loop's min-label semantics exactly.
    */
  private def localUnionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    val rank = new java.util.HashMap[Long, Int]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    def add(x: Long): Unit = if (!parent.containsKey(x)) { parent.put(x, x); rank.put(x, 0) }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (hi, lo) = if (rank.get(ra) >= rank.get(rb)) (ra, rb) else (rb, ra)
        parent.put(lo, hi)
        if (rank.get(hi) == rank.get(lo)) rank.put(hi, rank.get(hi) + 1)
      }
    }
    // class minimum per root, then one labeled pair per node
    val minOf = new java.util.HashMap[Long, Long]()
    val nodes = parent.keySet().iterator()
    while (nodes.hasNext) {
      val n = nodes.next()
      val r = find(n)
      if (n < minOf.getOrDefault(r, Long.MaxValue)) minOf.put(r, n)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(n => (n, minOf.get(find(n)).longValue()))
  }

  /** Edge sets at or below this size take the one-task union-find path:
    * ~4M (Long, Long) pairs \u2248 64 MB in one executor task \u2014 comfortably a
    * single shuffle partition's worth of work (same regime AQE coalesces
    * to). Above it, the distributed label-propagation loop engages.
    */
  val SmallGraphEdges: Long = 4L * 1000 * 1000

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25, smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Materialize the (often expensive) upstream edge plan ONCE at the DF
    // layer: the size-dispatch count and every pass below read the cached
    // pairs, not the LSH/minhash pipeline that produced them.
    // (Previously the sizing countApprox AND the adjacency fill each re-ran
    // the upstream \u2014 2\u00d7 the dominant cost of d17 at sf0.1.)
    val edgeDf = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .persist()
    val nEdges = edgeDf.count()
    if (nEdges <= smallGraphEdges) {
      // Small-graph fast path: the whole edge set is one task's worth of
      // data, so a partition-local union-find (executor-side, NOT a
      // driver collect) computes every component in a single pass \u2014
      // no per-round scheduling, no convergence probe. The iterative
      // loop below pays ~10 shuffle stages PER ROUND; for a graph this
      // size that fixed cost is the entire runtime.
      val labeled = edgeDf.as[(Long, Long)].rdd
        .coalesce(1)
        .mapPartitions { it => localUnionFind(it) }
        .persist()
      swapLabelCache(labeled)
      labeled.count() // materialize off the edge cache, then drop it
      edgeDf.unpersist(false)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] path=local-dsu edges=$nEdges")
      return labeled.toDF("node", "label")
    }
    val raw = edgeDf.as[(Long, Long)].rdd
    // symmetric closure; keyed by FIRST element = "x tells its label to y"
    val mirrored = raw.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    // size the loop to the data (~1M edges/partition, floor 4), capped at
    // the session shuffle width \u2014 a 5k-edge graph must not pay 32-way
    // stage scheduling per round, a 100 TB one lands at the cap
    val sessionNp = spark.sessionState.conf.numShufflePartitions
    val part = new org.apache.spark.HashPartitioner(
      math.max(4, math.min(sessionNp, (2 * nEdges / 1e6).toInt)))
    val adj = mirrored.partitionBy(part).persist()
    adj.count() // materialize the adjacency cache once (reads edgeDf's cache)
    edgeDf.unpersist(false)
    var labels = adj.keys.distinct(part.numPartitions)
      .map(n => (n, n)).partitionBy(part).persist()

    // one pointer jump: label(u) \u2190 map[label(u)] (monotone: values \u2264 keys)
    def jump(m: org.apache.spark.rdd.RDD[(Long, Long)]) =
      m.map { case (n, l) => (l, n) }
        .join(m, part)
        .map { case (_, (n, lOfL)) => (n, lOfL) }

    // one super-step: neighbor-min through the graph, then two pointer
    // jumps through the label forest (path compression)
    def superStep(l: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val nmin = adj.join(l, part) // (x, (nbr, label(x))): nbr receives label(x)
        .map { case (_, (nbr, lx)) => (nbr, lx) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val stepped = l.leftOuterJoin(nmin, part)
        .mapValues { case (lab, nm) => math.min(lab, nm.getOrElse(lab)) }
      jump(jump(stepped))
    }

    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // two lazy super-steps per ACTION: the scheduling round-trip is the
      // per-round cost at the driver, so halving rounds (one extra chain
      // of stages in the same job) is nearly free
      val updated = superStep(superStep(labels)).partitionBy(part).persist()
      updated.localCheckpoint() // truncate lineage; materialized by the action below
      // the convergence probe is the round\u0027s ONE action; take(1) short-circuits
      val changed = labels.join(updated, part)
        .filter { case (_, (o, n)) => n < o }
        .take(1)
      labels.unpersist(false)
      labels = updated
      converged = changed.isEmpty
      it += 1
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged=$converged rounds=$it edges=$nEdges parts=${part.numPartitions}")
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    swapLabelCache(labels)
    val out = labels.toDF("node", "label")
    adj.unpersist(false)
    out
  }

  /** The returned labeling stays persisted so the (lazy) consumer reads the
    * cache, not a re-run of the expensive upstream edge pipeline — but a
    * long-lived session calling connectedComponents repeatedly must not
    * accumulate one cached RDD per call. Retain exactly the most recent
    * labeling: each call unpersists the previous call's cache.
    */
  private val lastLabelCache =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.rdd.RDD[_]](null)
  private def swapLabelCache(next: org.apache.spark.rdd.RDD[_]): Unit = {
    val prev = lastLabelCache.getAndSet(next)
    if (prev != null && (prev ne next)) prev.unpersist(false)
  }

  /** Injective fingerprint of a row over nullable columns. A bare
    * `concat_ws` SKIPS null arguments, so `(a, NULL, b)` and `(a, b, NULL)`
    * would collide — silent data loss in a dedup key. Each column is
    * encoded as either `\u0001` (NULL — distinct from every value
    * encoding, which starts with a digit) or netstring-style
    * `<char-length>:<value>`, so the concatenation decodes unambiguously
    * left-to-right: injective even for values containing separators.
    * Shared by batch `exactDedup` and `EventStreams.streamingDedup` so
    * batch backfills and the stream agree on identity.
    */
  def rowFingerprint(cols: Seq[Column]): Column = {
    val parts = cols.map { c =>
      val s = c.cast("string")
      when(s.isNull, lit("\u0001")).otherwise(concat(length(s).cast("string"), lit(":"), s))
    }
    md5(concat(parts: _*))
  }

  /** Exact dedup: keep the lowest-id row per digest of `keyCols`.
    * Shuffles only (digest, id) pairs, then semi-joins survivors back —
    * at 100 TB the wide document payload never crosses the network twice.
    */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val digest = rowFingerprint(keyCols.map(col)).as("__digest")
    val keep = df.select(col(idCol), digest)
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__digest")
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------------
  // Persisted exact-dedup LEDGER — the at-rest twin of exactDedup for
  // INCREMENTAL ingest (the d38 cross-dedup shape, made durable): a
  // parquet store of every digest already admitted to the corpus. Each
  // new batch anti-joins the ledger (drop anything ever admitted),
  // exact-dedups within itself, and appends only its survivors'
  // digests — existing ledger files are never rewritten (the same
  // append-only contract as IvfPq.appendToIndex). The ledger holds
  // (digest, admitting id) only — 16-byte md5 + id, never payloads —
  // so ledger I/O and the anti-join shuffle are digest-sized, ~0.1% of
  // corpus bytes. At deployment scale, bucket the ledger BY digest
  // (`bucketBy`) so batch-vs-ledger anti-joins co-locate without a
  // ledger-side shuffle.
  // ------------------------------------------------------------------

  /** One row per distinct fingerprint with the lowest admitting id —
    * the ledger's on-disk schema, shared by create and append so the
    * two generations can never diverge.
    */
  private def ledgerRows(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    Ledger.fold(DigestSpec, df.select(rowFingerprint(keyCols.map(col)).as("digest"),
      col(idCol).as("admitted_id")))

  private val DigestSpec = Ledger.Spec("digest ledger", Seq("digest"),
    Ledger.Merge.MinLabel("admitted_id"), Ledger.Retract.AntiJoin("digest"))

  /** Create/overwrite the ledger from an initial corpus. */
  def writeLedger(df: DataFrame, idCol: String, keyCols: Seq[String],
      path: String): Unit =
    Ledger.create(df.sparkSession, path, DigestSpec, ledgerRows(df, idCol, keyCols))

  /** The rows of `df` that survive BOTH dedup regimes: never admitted to
    * the ledger at `path` (anti-join on digest), and first (lowest id)
    * among in-batch copies. Column set of `df`, unchanged.
    */
  def dedupAgainstLedger(df: DataFrame, idCol: String, keyCols: Seq[String],
      path: String): DataFrame = {
    // binds through the staging fallback; the bind-vs-action caveat is
    // documented once on LedgerGuard.readLedger
    val ledger = Ledger.read(df.sparkSession, path)
      .select(col("digest").as("__digest"))
    val withD = df.withColumn("__digest", rowFingerprint(keyCols.map(col)))
    val fresh = withD.join(ledger, Seq("__digest"), "left_anti")
    val keep = fresh.select(col(idCol), col("__digest"))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__digest")
    withD.drop("__digest").join(keep, Seq(idCol), "left_semi")
  }

  /** Admit a batch's digests: append-only, never rewrites existing
    * ledger files. Pass the OUTPUT of [[dedupAgainstLedger]] (or any
    * frame already deduped against the ledger) — appending an
    * un-deduped batch would record digests the corpus rejected.
    */
  def appendToLedger(df: DataFrame, idCol: String, keyCols: Seq[String],
      path: String): Unit =
    Ledger.append(df.sparkSession, path, DigestSpec, None)(
      ledgerRows(df, idCol, keyCols))

  /** Right-to-be-forgotten for the digest ledger: forget the CONTENT of
    * the given rows — their digests leave the ledger inside one staged
    * swap (same lease/manifest/self-heal discipline as every advance),
    * so matching content is re-admittable by the very next batch. The
    * purge list is broadcast (it is an operator-issued removal batch,
    * model-sized by nature); the generation rewrite is the cost every
    * ledger advance already pays, and `_GRAFT_` sidecar markers ride
    * across the swap as usual.
    *
    * Family boundaries, stated once here: the SKETCH ledger (d46)
    * cannot forget — HLL sketches have no unmerge, so removal there
    * means rebuilding the affected keys' sketches from surviving
    * content. The SPAN-HASH ledger (d58) cannot forget PER DOCUMENT
    * either: it stores bare window hashes with no document
    * attribution, and dropping one document's hashes would also
    * un-admit windows that other surviving documents share (a
    * refcounted or doc-attributed variant would trade that back for
    * 3-5× the at-rest bytes). The digest, signature, and cluster
    * families store attributed per-row state and CAN forget.
    */
  def removeFromLedger(df: DataFrame, keyCols: Seq[String], path: String,
      batchId: Option[String] = None): Unit =
    Ledger.remove(df.sparkSession, path, DigestSpec, batchId)(
      df.select(rowFingerprint(keyCols.map(col))))

  /** The same purge for the SIGNATURE ledger (d48), by document id: the
    * ids' signature rows leave the ledger, so later probes stop pairing
    * against the forgotten documents. `idCol` names the id column as
    * stored (the creation-time `idCol`).
    */
  def removeFromSignatureLedger(ids: DataFrame, idCol: String, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.remove(ids.sparkSession, path,
      SigSpec.copy(retract = Ledger.Retract.AntiJoin(idCol)), batchId)(
      ids.select(col(idCol)))

  /** Compact an append-only ledger IN PLACE: collapse any duplicate
    * digests that accumulated across appends (keeping the lowest
    * admitting id, the same tie-break every writer uses) and rewrite
    * the file set range-partitioned on digest to `targetFiles` sized
    * files ([[LayoutOps.writeSized]] — digest-ordered files keep
    * parquet min/max pruning effective for point probes). Without
    * compaction an ingest loop accretes one small file set per batch
    * and the anti-join's scan fans out over thousands of tiny files;
    * digests at rest are ~24 B/row, so even a billion-row ledger
    * rewrites in seconds per executor.
    *
    * Swap discipline is the shared [[LedgerGuard.advanceInPlace]]
    * (staging write, retire/promote rename pair with rollback and
    * crash self-heal, per-path in-JVM lock, cross-JVM fail-fast
    * lease). Concurrent APPENDERS during a compaction remain out of
    * contract — overwrite-in-place cannot see files born mid-swap;
    * route appends and compactions through one scheduler slot per
    * ledger.
    */
  def compactLedger(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 16, maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path, DigestSpec, targetFiles, maxRecordsPerFile)

  /** Snapshot diff between two corpus generations by content digest:
    * one row per id present in either side, labeled
    * added / removed / changed / unchanged — the audit primitive behind
    * "what did this ingest actually do" and incremental re-processing
    * (run the expensive downstream operators on `added ∪ changed`
    * only). Both sides reduce to (id, 16-byte [[rowFingerprint]])
    * map-side, so the full-outer join moves digests, never payloads —
    * diffing two 100 TB snapshots shuffles ~0.1% of their bytes, and
    * with both snapshots bucketed by id it co-locates with no shuffle
    * at all. The fingerprint is NULL-injective, so NULL vs NULL
    * compares unchanged and NULL vs value compares changed, exactly
    * like SQL's IS DISTINCT FROM on the raw columns.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      keyCols: Seq[String]): DataFrame = {
    def digests(df: DataFrame, as: String) =
      df.select(col(idCol), rowFingerprint(keyCols.map(col)).as(as))
    digests(oldDf, "__od").join(digests(newDf, "__nd"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__od").isNull, "added")
          .when(col("__nd").isNull, "removed")
          .when(col("__od") =!= col("__nd"), "changed")
          .otherwise("unchanged").as("status"))
  }

  // ------------------------------------------------------------------
  // Duplicated-SPAN detection (ExactSubstr dedup) — Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better": the
  // unit of duplication is a SUBSTRING at an arbitrary offset, not the
  // whole document (press-release boilerplate, quoted licenses, shared
  // headers survive every whole-doc and chunk-aligned pass). The paper
  // builds a corpus-wide suffix array; the scalable distributed
  // equivalent is OVERLAPPING k-token window fingerprints: a span
  // duplicated at any alignment contains every one of its k-windows,
  // so window-hash recurrence ≡ substring recurrence (≥ k tokens), and
  // a suffix array never has to exist. The shuffle carries (hash32,
  // id, pos) — 16 bytes per token — never text; recurrence detection
  // is a partial-aggregatable count per hash; per-doc span assembly is
  // a collect_list bounded by document length. All linear at 100 TB.
  // ------------------------------------------------------------------

  /** (id, pos, h) for every overlapping k-token window of `textCol`,
    * pos = 0-based index of the window's first token. One fused codegen
    * kernel ([[graft.functions.NgramUtil.wordGramMd5s]]) — no
    * intermediate gram strings materialize.
    */
  private def windowGrams(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.NgramExpressions.wordGramMd5s(col(textCol), k)))
      .toDF(idCol, "pos", "h")

  /** Fold a SORTED array of duplicated-window start positions into
    * maximal spans `struct<s, e, nw>`: token range [s, e), nw = number
    * of duplicated windows merged. Windows [p, p+k) chain while the
    * next start is ≤ the running end (overlap or exact adjacency —
    * the same `pos - lag(pos) <= k` gaps-and-islands rule a SQL user
    * would write). One fused codegen kernel per doc
    * ([[graft.functions.NgramUtil.mergeSpans]]) — the equivalent
    * higher-order `aggregate` fold is interpreted and was the dominant
    * cost of the whole plan on a dup-saturated fixture (3.3 s of
    * 4.2 s); no second shuffle to assemble spans either way.
    */
  private def mergeWindowSpans(sortedPos: Column, k: Int): Column =
    graft.functions.NgramExpressions.mergeSpans(sortedPos, k)

  /** Maximal duplicated spans per document: one row per span of ≥ k
    * consecutive tokens whose every k-token window recurs (≥
    * `minOccurrences` occurrences corpus-wide, self included). Output
    * `(id, span_start, span_end, n_windows)` — token indices, end
    * exclusive. Docs with no duplicated window emit nothing.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minOccurrences: Int = 2): DataFrame = {
    require(k >= 1, "window width must be >= 1")
    val grams = windowGrams(df, idCol, textCol, k)
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences).select(col("h"))
    val wins = grams.join(dup, Seq("h"), "left_semi")
    wins.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col(idCol), explode(mergeWindowSpans(col("__ps"), k)).as("__sp"))
      .select(col(idCol), col("__sp.s").as("span_start"),
        col("__sp.e").as("span_end"), col("__sp.nw").as("n_windows"))
  }

  /** ExactSubstr SCRUB: remove every duplicated span from every copy
    * EXCEPT the canonical one, so exactly one occurrence of each
    * duplicated substring survives the corpus (the paper's dedup
    * policy, vs. [[duplicatedSpans]]' report). Canonical occurrence
    * per window hash = the (id, pos)-minimal one, computed as a
    * partial-aggregatable `min(struct(id, pos))` per hash — NOT a
    * row_number window, so a boilerplate string pasted into a million
    * documents is a hot REDUCE key, never a million-row partition
    * sort. Returns one row per input doc: `(id, clean_text,
    * n_removed)`; untouched docs round-trip `trim(text)` verbatim
    * (tokens are space-rejoined, and split-on-single-space keeps empty
    * tokens, so reassembly is exact).
    */
  def scrubDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minOccurrences: Int = 2): DataFrame = {
    require(k >= 1, "window width must be >= 1")
    val id = col(idCol)
    val grams = windowGrams(df, idCol, textCol, k)
    val stats = grams.groupBy(col("h")).agg(
      count(lit(1)).as("__cnt"), min(struct(id, col("pos"))).as("__canon"))
    val scrubWins = grams
      .join(stats.filter(col("__cnt") >= minOccurrences), Seq("h"))
      .filter(!(id === col("__canon").getField(idCol) &&
        col("pos") === col("__canon").getField("pos")))
      .select(id, col("pos"))
    scrubByWindows(df, idCol, textCol, k, scrubWins)
  }

  /** Shared scrub tail: merge the (id, pos) windows-to-remove into
    * spans and rebuild every document's text without the covered
    * tokens. One row per input doc: `(id, clean_text, n_removed)`.
    * Rebuild + removal count are one fused codegen kernel
    * ([[graft.functions.NgramUtil.scrubSpans]]) — the earlier
    * per-token `filter`+`exists` lambdas evaluated interpreted, a
    * cost that scales with exactly the dup-saturated corpora this
    * operator targets; the kernel is byte-identical (unit-pinned
    * against the HOF form) and the spans it consumes arrive sorted &
    * disjoint from [[mergeWindowSpans]], so its merge-cursor walk is
    * exact.
    */
  private def scrubByWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, scrubWins: DataFrame): DataFrame = {
    val id = col(idCol)
    val spans = scrubWins.groupBy(id)
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(id, mergeWindowSpans(col("__ps"), k).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<s:int,e:int,nw:bigint>>")))
      .withColumn("__scr",
        graft.functions.NgramExpressions.scrubSpans(col(textCol), col("__spans")))
      .select(id,
        col("__scr.clean_text").as("clean_text"),
        col("__scr.n_removed").as("n_removed"))
  }

  // ------------------------------------------------------------------
  // Span-hash LEDGER — incremental ExactSubstr for an INGEST LOOP: the
  // at-rest set of every k-token window hash already admitted to the
  // corpus. A new batch scrubs (a) every window whose hash the corpus
  // already contains — its canonical copy was admitted in some earlier
  // batch — and (b) within-batch recurrences per the d54 rule, then
  // appends its own (now-canonical) hashes. The ledger holds BARE
  // HASHES (8 B/window at rest, ~2 B/corpus-token after dedup), never
  // text or positions; probes are hash-semi-joins; replayed appends
  // only add duplicate hash rows, which semi/anti joins ignore and
  // compaction removes. Swap/lease/manifest discipline is the shared
  // LedgerGuard core, like every other ledger family here.
  // ------------------------------------------------------------------

  /** Sidecar with the ledger's creation-time window width
    * (`k=<width>`): window hashes of different widths are
    * incomparable, so every append/probe validates against it — the
    * same own-parameters treatment as the signature ledger's
    * (numHashes, shingleSize).
    */
  private val SpanParams = Ledger.Params(LedgerGuard.SidecarPrefix + "SPAN_META",
    "span-hash ledger", "window hashes of different widths are incomparable")

  private val SpanSpec = Ledger.Spec("span-hash ledger", Seq("h"),
    Ledger.Merge.UnionDistinct, params = Some(SpanParams))

  /** Create/overwrite the span-hash ledger: the distinct window hashes
    * of an initial corpus.
    */
  def writeSpanHashLedger(df: DataFrame, idCol: String, textCol: String,
      k: Int, path: String): Unit = {
    require(k >= 1, "window width must be >= 1")
    Ledger.create(df.sparkSession, path, SpanSpec,
      windowGrams(df, idCol, textCol, k).select(col("h")).distinct(), Seq("k" -> k))
  }

  /** Admit a batch's window hashes (append-only; duplicates across
    * appends are harmless and compacted away). Pass the batch AFTER
    * [[scrubAgainstSpanLedger]] — the ledger should hold what the
    * corpus kept.
    */
  def appendToSpanHashLedger(batch: DataFrame, idCol: String, textCol: String,
      k: Int, path: String, batchId: Option[String] = None): Unit =
    Ledger.append(batch.sparkSession, path, SpanSpec, batchId, Seq("k" -> k))(
      windowGrams(batch, idCol, textCol, k).select(col("h")).distinct())

  /** Scrub a new batch against the corpus-so-far: every window whose
    * hash is in the ledger is cut (the corpus already holds its
    * canonical copy), and windows FRESH to the corpus follow the
    * within-batch [[scrubDuplicatedSpans]] rule (first (id, pos) copy
    * survives). The window width comes from the ledger's own sidecar —
    * a probe cannot accidentally use a different k than the ledger was
    * built with.
    */
  def scrubAgainstSpanLedger(df: DataFrame, idCol: String, textCol: String,
      path: String, minOccurrences: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val k = SpanParams.need(spark, path, "probe", "k").toInt
    val id = col(idCol)
    // the batch's gram frame feeds THREE branches of the one scrub plan
    // (ledger semi-join, fresh anti-join into the stats aggregate, fresh
    // anti-join as the scrub probe) — uncached, the tokenize+hash text
    // pass ran three times per scrub. Batch-bounded persist, retained
    // until the NEXT scrub swaps it out (the connectedComponents
    // label-cache regime: the returned plan is lazy, so the cache must
    // outlive this call; an early eviction merely recomputes from text).
    val grams = windowGrams(df, idCol, textCol, k).persist()
    swapScrubGramCache(grams)
    val led = Ledger.read(spark, path).select(col("h"))
    val inLed = grams.join(led, Seq("h"), "left_semi").select(id, col("pos"))
    val fresh = grams.join(led, Seq("h"), "left_anti")
    val stats = fresh.groupBy(col("h")).agg(
      count(lit(1)).as("__cnt"), min(struct(id, col("pos"))).as("__canon"))
    val batchScrub = fresh
      .join(stats.filter(col("__cnt") >= minOccurrences), Seq("h"))
      .filter(!(id === col("__canon").getField(idCol) &&
        col("pos") === col("__canon").getField("pos")))
      .select(id, col("pos"))
    // disjoint by construction (ledger-hit vs ledger-fresh) — no distinct
    scrubByWindows(df, idCol, textCol, k, inLed.unionByName(batchScrub))
  }

  /** Retain exactly the most recent scrub's gram cache (one slot, the
    * [[lastLabelCache]] discipline): a long-lived session scrubbing
    * batch after batch must not accumulate one cached gram frame per
    * call.
    */
  private val lastScrubGramCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private def swapScrubGramCache(next: DataFrame): Unit = {
    val prev = lastScrubGramCache.getAndSet(next)
    if (prev != null && (prev ne next))
      try prev.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Compact the span-hash ledger IN PLACE: drop duplicate hashes from
    * replayed/overlapping appends and rewrite the accreted per-batch
    * file sets to `targetFiles` hash-ordered files (min/max pruning
    * for point probes). Same staged swap, lease, and self-heal as
    * every ledger.
    */
  def compactSpanHashLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path, SpanSpec, targetFiles, maxRecordsPerFile)
}
