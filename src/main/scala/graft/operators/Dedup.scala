package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ScoreFunctions

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash(+LSH), SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on the content key;
  *  - Jaccard pairs use an inverted-index join (explode shingles → equi-join
  *    on shingle) so cost is Σ df(shingle)² — NOT a cross join; extremely
  *    frequent shingles should be capped upstream (`maxShingleDf`);
  *  - MinHash-LSH replaces the pairwise verify-all with a band-bucket
  *    equi-join: only documents sharing a band bucket are compared, then
  *    verified with exact Jaccard (precision 1, recall tested);
  *  - cosine near-dup has a brute O(n²) reference and a random-hyperplane
  *    bucketed variant whose join key is the sign pattern.
  *
  * All hash arithmetic is integer math on the cross-engine rolling hash
  * (TextAnalysis.fingerprint's scheme) so DuckDB oracles replay bit-exactly.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one representative (min orderCol) per distinct content.
    * A single hash aggregate — partial map-side combine, one shuffle. */
  def exact(df: DataFrame, contentCols: Seq[String], orderCol: String): DataFrame =
    df.groupBy(contentCols.map(col): _*)
      .agg(min(col(orderCol)).as(orderCol),
        count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct, space-joined) — codegen'd
    * [[graft.functions.WordShingles]]; see its scaladoc for the HOF
    * equivalence and why the HOF spelling was too slow. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** Rolling hash of a string column — same scheme both engines replay:
    * h = (h*31 + code) mod 1e9+7. Codegen'd (see [[graft.functions.PolyHash]]). */
  val HashMod: Long = graft.functions.TextHash.Mod
  def strHash(s: Column): Column = graft.functions.PolyHash(s, 31L)

  // ------------------------------------------------- n-gram Jaccard pairs

  /** Exact near-duplicate pairs by n-gram-shingle Jaccard ≥ threshold.
    * Inverted index: (id, shingle) → self-equi-join on shingle → pair
    * intersection counts → |A∪B| from per-doc sizes.
    *
    * `maxShingleDf` caps the inverted-index join: shingles occurring in
    * more than that many documents (boilerplate headers/footers) are
    * dropped from the shingle universe BEFORE the self-join, whose cost is
    * Σ df(shingle)² — one hot shingle at df=10⁶ alone would generate 10¹²
    * candidate pairs. The hot set is small by construction, so exclusion
    * is a broadcast anti-join (shAll is not shuffled a second time). The
    * Jaccard is then computed over the reduced universe (both intersection
    * and sizes), a standard approximation: near-ubiquitous shingles carry
    * ~no similarity signal. Default = off (exact).
    *
    * `prefixFilter` switches to the AllPairs/PPJoin plan
    * ([[jaccardPairsPrefix]]) — identical output, different cost model:
    * right for df-SKEWED real corpora, slower on flat-df ones. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue,
      prefixFilter: Boolean = false,
      shuffleHash: Boolean = true): DataFrame = {
    if (prefixFilter)
      return jaccardPairsPrefix(df, idCol, textCol, n, threshold, maxShingleDf)
    // Each inverted-index row carries its document's shingle-set SIZE:
    // free at explode time (size of the shingle array) in the uncapped
    // case, one windowed count in the capped case (the post-cap size is
    // smaller). Carrying sz removes the two joins of per-doc sizes
    // against the (much larger) pair table, and enables the length
    // filter inside the self-join: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    // so pairs failing max·t ≤ min can never reach the threshold — they
    // are pruned BEFORE the pair aggregation. The 1e-6 slack keeps pairs
    // whose unrounded J is just under t but rounds to ≥ t (the output
    // filter compares round(J, 6)).
    val sh = Materialize.eager(sizedShingles(df, idCol, textCol, n, maxShingleDf),
      "Dedup.jaccardPairs.sh")
    val lenOk = greatest(col("a.sz"), col("b.sz")) * (threshold - 1e-6) <=
      least(col("a.sz"), col("b.sz"))
    // shuffle-hash, not sort-merge, WHEN THE BUILD FITS: the 8-byte-key
    // inverted index gains nothing from sorting both sides (~15% at
    // sf0.1) — but a ShuffledHashJoin must hold one whole partition's
    // postings in an in-memory hash relation, and at the 5.25M-doc
    // decade leg (515M posting rows / 128 partitions ≈ 4M rows × 32
    // concurrent tasks) that OOMed the executor. Sort-merge spills;
    // the dispatcher ([[jaccardPairsAuto]]) measures the posting volume
    // and flips `shuffleHash` off past [[ShjBuildRowsCap]] rows per
    // partition. Targeted hint, not a global conf flip.
    val buildSide = if (shuffleHash) sh.as("b").hint("shuffle_hash")
      else sh.as("b")
    sh.as("a").join(buildSide,
        col("a.h") === col("b.h") && col("a.id") < col("b.id") && lenOk)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Hashed inverted index with per-row document set size: (id, sz, h). */
  private def sizedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long): DataFrame =
    if (maxShingleDf == Long.MaxValue)
      df.select(col(idCol).as("id"), shingles(col(textCol), n).as("__arr"))
        .select(col("id"), size(col("__arr")).as("sz"), explode(col("__arr")).as("sh"))
        .select(col("id"), col("sz"), tokHash61(col("sh")).as("h"))
    else
      hashedShingles(df, idCol, textCol, n, maxShingleDf)
        .withColumn("sz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")))

  /** (id, shingle) inverted index with the `maxShingleDf` hot-set cap. */
  private def cappedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long): DataFrame = {
    val shAll = df
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
    if (maxShingleDf == Long.MaxValue) shAll
    else shAll.join(
      broadcast(shAll.groupBy("sh").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxShingleDf).select("sh")),
      Seq("sh"), "left_anti")
  }

  /** [[cappedShingles]] with each shingle replaced by its 61-bit rolling
    * hash: the inverted-index self-join and the verify intersections run
    * on 8-byte longs instead of n-word strings (~2.5× less shuffle volume
    * and compare cost measured at sf0.1). Both engines replay the SAME
    * hash (the DuckDB oracles compute it per shingle), so the rare
    * collision (~2⁻⁶¹ per pair) perturbs Spark and oracle identically —
    * hash-matching is preserved by construction, not by luck. The df cap
    * stays on the string universe (applied before hashing). */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long): DataFrame =
    cappedShingles(df, idCol, textCol, n, maxShingleDf)
      .select(col("id"), tokHash61(col("sh")).as("h"))

  /** Drop shingles whose 61-bit hash appears in `excludeHashes` (column
    * `h`) — the CORPUS-level hot-shingle exclusion the streaming gate
    * maintains as state ([[shingleDf]]); the in-universe `maxShingleDf`
    * cap cannot see corpus-scale document frequencies from inside one
    * micro-batch. The hot set is tiny by construction (shingles over a df
    * cap), hence the broadcast. */
  private def excludedShingles(sh: DataFrame,
      excludeHashes: Option[DataFrame]): DataFrame =
    excludeHashes.fold(sh) { ex =>
      sh.withColumn("__h61", tokHash61(col("sh")))
        .join(broadcast(ex.select(col("h").as("__h61"))), Seq("__h61"), "left_anti")
        .drop("__h61")
    }

  /** Per-shingle document frequency over `docs`: (h, df) — the unit of
    * the streaming gate's corpus-df state. Shingles are distinct per doc,
    * so `df` counts documents, not occurrences. */
  def shingleDf(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    hashedShingles(docs, idCol, textCol, n, Long.MaxValue)
      .groupBy("h").agg(count(lit(1)).as("df"))

  /** Merge a [[shingleDf]] delta into accumulated state (union + re-agg;
    * at cluster scale this is a MERGE into a table bucketed by `h`). */
  def mergeShingleDf(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta).groupBy("h").agg(sum("df").as("df"))

  /** PREFIX-FILTERED exact Jaccard pairs (AllPairs/PPJoin principle):
    * order every doc's shingles by a global rare-first total order
    * (df asc, shingle); any pair with J ≥ t must share a shingle within
    * BOTH docs' first |s| − ⌈t·|s|⌉ + 1 shingles (if the smallest common
    * element were outside either prefix, that doc's whole prefix would be
    * non-shared and |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| — contradiction). The
    * quadratic self-join then runs only over prefix shingles — the RAREST
    * ones — plus a candidate length filter (t·|A| ≤ |B| ≤ |A|/t) and an
    * exact set-intersection verify. Output is identical to the inverted-
    * index plan (spec-checked); the win appears on df-skewed corpora
    * where a few shingles dominate Σ df² — on flat-df corpora (e.g. the
    * synthetic bench tables) the extra sort/verify stages cost more than
    * the pruning saves, which is why this is opt-in. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    // The output filter compares round(J, 6) ≥ t, which admits pairs whose
    // UNROUNDED J is marginally under t — every pruning bound below must
    // therefore use the same slacked threshold as [[jaccardPairs]]' length
    // filter, or the two "identical output" plans diverge exactly on those
    // round-up pairs (a longer prefix / looser length bound only adds
    // candidates; the exact verify keeps precision).
    val t = threshold - 1e-6
    // hashed inverted index (same 61-bit universe as the sibling plan):
    // the prefix self-join, dimension joins and array_intersect all run
    // on 8-byte longs, not n-word strings. A CROSS-doc collision perturbs
    // both plans identically; the one residual asymmetry is a WITHIN-doc
    // collision (~2⁻⁶¹ per shingle pair), where the inverted plan's join
    // counts the multiplicity but array_intersect dedupes — accepted as
    // the same collision class the hashed universe already trades on.
    // materialized once: the df aggregate and the join below both consume
    // the shingle pipeline
    val sh = Materialize.eager(hashedShingles(df, idCol, textCol, n, maxShingleDf),
      "Dedup.jaccardPairsPrefix.sh")
    // global rare-first order: (df, hash); each doc keeps its full sorted
    // set (for the verify) and its filter prefix. df is a groupBy + join
    // back, NOT count(*) over Window.partitionBy(h): a window exchange
    // puts EVERY inverted-index row of one shingle hash in one task, and
    // on exactly the df-skewed corpora this plan exists for (hot
    // boilerplate shingle in 35% of docs) that single task is the
    // straggler at scale. AQE's OptimizeSkewedJoin splits skewed JOIN
    // partitions by mapper ranges (SkewProbeSpec proves the mechanism,
    // PrefixDfSkewSpec pins it for THIS stage) but never window
    // exchanges. The extra exchange vs the window spelling is the price
    // of skew-splittability — it is one aggregate of the already-compact
    // (h, df) table, not a second pass over the corpus. (r13 note: a
    // broadcast-hot map-side order attach was tried — it saved only ~2%
    // of the family's shuffle, and EXACT df order is what makes the
    // positional filter below bite: rare-first puts a doc's df=1-unique
    // shingles at the head of its prefix, so a pair's smallest SHARED
    // element sits late and the suffix bound prunes hard. Reverted.)
    // shuffle-hash with the compact (h, df) side as build: 8-byte keys
    // gain nothing from sorting the full inverted index (same argument as
    // every band join here), and SkewProbeSpec proves hinted SHJ still
    // skew-splits
    val dfByH = sh.groupBy("h").agg(count(lit(1)).as("__df"))
    // the checkpoint stores only (id, shs, sz, __plen): the filter prefix
    // is a SLICE of shs computed at read time (below), not a second
    // materialized array — ~40% less checkpoint volume at t=0.5 (r13)
    val sets = Materialize.eager(sh.join(dfByH.hint("shuffle_hash"), Seq("h"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("__df"), col("h")))).as("__arr"))
      .select(col("id"),
        transform(col("__arr"), x => x.getField("h")).as("shs"),
        size(col("__arr")).as("sz"))
      .withColumn("__plen",
        (col("sz") - ceil(col("sz") * t) + 1).cast("int")),
      "Dedup.jaccardPairsPrefix.sets") // referenced by the index AND both verify sides
    val inv = sets.select(col("id"), col("sz"),
      posexplode(slice(col("shs"), lit(1), col("__plen"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    // PPJoin POSITIONAL filter (r13, guide §2.3 — shuffle fewer bytes by
    // generating fewer candidates): J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|),
    // and a shared element at 0-based sorted positions (pA, pB) bounds
    // |A∩B| ≤ min(|A|−pA, |B|−pB) IF it is the smallest shared element
    // (all shared elements then lie in both suffixes). Soundness with
    // exists-semantics over generating rows: take a pair with J ≥ t and
    // its smallest shared element c. (1) c is inside BOTH prefixes —
    // were it outside A's, every shared element would sit past the
    // prefix, so |A∩B| ≤ ⌈t|A|⌉−1 < t|A| ≤ t/(1+t)(|A|+|B|) (using
    // |B| ≥ t|A| from the length filter), contradicting J ≥ t. (2) c's
    // row satisfies the positional bound, because |A∩B| ≥ the required
    // overlap and |A∩B| ≤ min of c's suffixes. So every true pair
    // survives; the exact verify keeps precision. All three pruning
    // bounds use the same slacked t (see the round-up note above).
    // Rare-first order makes this filter BITE: a doc's df=1 shingles
    // head its prefix, so a pair's smallest SHARED element sits late
    // and min-suffix is small — at sf0.1 this cut candidates ~400×
    // (340k → under 1k) and the verify's array shuffle with them.
    // candidate pairs are materialized once: they feed the broadcast id
    // set below AND the verify join spine
    val cand = Materialize.eager(inv.as("a").join(inv.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // length filter: J ≥ t bounds the size ratio by t
          greatest(col("a.sz"), col("b.sz")) * t <=
            least(col("a.sz"), col("b.sz")) &&
          // positional filter: suffix overlap bound must clear t/(1+t)·Σsz
          least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) >=
            (col("a.sz") + col("b.sz")) * (t / (1 + t)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct(),
      "Dedup.jaccardPairsPrefix.cand")
    // VERDICT r12 #1 / guide §2.3+§3.2: the verify joins used to shuffle
    // `sets` — the CORPUS's full sorted shingle-hash arrays — by id,
    // twice (O(corpus) at scale), so that a candidate-sized pair table
    // could look up its two sides. Invert the pruning: broadcast the
    // candidate-doc IDS (8 B/row — ids only, never arrays) and semi-join
    // `sets` down to candidate docs BEFORE the array-carrying join, so
    // the only arrays that ever cross an exchange are those of docs
    // actually under verification. The semi-join is map-side over the
    // checkpointed sets (no exchange), and BOTH verify sides share ONE
    // broadcast subtree (ReuseExchange builds it once); output is
    // trivially identical (the dropped rows could never join). The
    // broadcast envelope is the candidate-doc id set — the quantity the
    // prefix filter exists to keep small; if candidates ever approach
    // corpus scale, the verify is corpus-scale work regardless and the
    // broadcast is not the wall.
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val vsets = sets.join(broadcast(candIds), Seq("id"), "left_semi")
    val vsetsA = vsets
      .select(col("id").as("id_a"), col("shs").as("shs_a"), col("sz").as("sz_a"))
    val vsetsB = vsets
      .select(col("id").as("id_b"), col("shs").as("shs_b"), col("sz").as("sz_b"))
    cand
      .join(vsetsA.hint("shuffle_hash"), "id_a")
      .join(vsetsB.hint("shuffle_hash"), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------- auto plan selection

  /** Projected inverted-index join FAN-OUT — Σ df² / Σ df over the
    * shingles of a deterministic hash-sample of ≤ `targetSample`
    * documents. This is the decision statistic [[jaccardPairsAuto]]
    * dispatches on: every inverted-index row meets df(shingle) partners
    * in the self-join, so the expected candidate rows per index row IS
    * this ratio. A flat-df corpus measures a small constant (≈ 1–5); a
    * boilerplate-skewed corpus measures in the tens-to-thousands (a
    * shingle in a constant FRACTION of docs contributes df ∝ sample
    * size), so the two shapes separate by orders of magnitude — round
    * 5's first cut used the hot-row MASS fraction, which long documents
    * dilute toward the threshold (measured 0.045 vs a 0.05 crossover on
    * a 100-token-doc corpus where the inverted plan was 13× slower).
    * The fixed sample size pins the statistic's scale, so the crossover
    * calibrated at bench scale transfers.
    *
    * Cost — exactly TWO jobs (r5 verdict #7; the round-5 spelling ran up
    * to 40 incremental limit-probes and still ended on a full id scan):
    * one COLUMN-PRUNED count of the id column to fix the corpus size,
    * then the bounded shingle probe over a deterministic hash-sample of
    * ~targetSample docs. Callers that already know the size (a cataloged
    * corpus — [[graft.model.DatasetCatalog]] tracks row counts) pass it
    * via `knownRows` and skip the count, leaving ONE job. The expensive
    * shingle pass is bounded either way; the id scan is a cheap parquet
    * column read, and saying so beats pretending it never happens. */
  def jaccardDfFanout(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, targetSample: Long = 10000L, knownRows: Long = -1L): Double =
    jaccardProbe(docs, idCol, textCol, n, targetSample, knownRows)._1

  /** The sizing probe behind [[jaccardPairsAuto]]: (df fan-out Σdf²/Σdf,
    * estimated TOTAL posting rows) from one bounded deterministic
    * doc-hash sample. */
  private[operators] def jaccardProbe(docs: DataFrame, idCol: String,
      textCol: String, n: Int, targetSample: Long,
      knownRows: Long): (Double, Double) = {
    val total = if (knownRows >= 0) knownRows else docs.select(col(idCol)).count()
    val (sampled, invFrac) =
      if (total <= targetSample) (docs, 1.0)
      else {
        // deterministic doc-hash sample (layout-independent, replayable):
        // keep ids whose 64-bit hash falls under targetSample/total of
        // the hash space — expected sample size ≈ targetSample, one
        // filter, no extra jobs
        val space = 1L << 32
        val thresh = math.max(1L,
          math.ceil(space.toDouble * targetSample / total).toLong)
        (docs.filter(pmod(xxhash64(col(idCol)), lit(space)) < lit(thresh)),
          space.toDouble / thresh)
      }
    val r = hashedShingles(sampled, idCol, textCol, n, Long.MaxValue)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .agg(sum(col("df").cast("double") * col("df")).as("s2"),
        sum(col("df").cast("double")).as("s1")).head
    if (r.isNullAt(1) || r.getDouble(1) == 0d) (0.0, 0.0)
    else (r.getDouble(0) / r.getDouble(1), r.getDouble(1) * invFrac)
  }

  /** Per-partition build-row ceiling for the inverted self-join's
    * ShuffledHashJoin preference: past this, [[jaccardPairsAuto]] lets
    * the join sort-merge (which spills) instead of building a hash
    * relation that must FIT (≈2M posting rows ≈ 150 MB build; the
    * 5.25M-doc decade leg measured OOM at ~4M rows/partition × 32
    * concurrent tasks). */
  val ShjBuildRowsCap: Double = 2e6

  /** Crossover for [[jaccardPairsAuto]]: prefix when the projected
    * fan-out exceeds this. Measured (BASELINE.md round 5): flat corpora
    * probe at 1.1–2.4 and the inverted plan wins 1.4–2×; at fan-out
    * ≈ 13 (the sf0.01 boilerplate fixture) inverted STILL wins slightly
    * (0.49 vs 0.67 s — the blowup is real but small at that size); at
    * fan-out ≈ 99–104 prefix wins 1.6× (5k docs) widening to 13× (20k
    * docs) — the inverted cost grows quadratically while prefix stays
    * ~linear. The true crossover therefore sits in the 30–40 range;
    * 24 biases LOW because the penalties are asymmetric (mis-picking
    * prefix costs ~2×, mis-picking inverted grows without bound). Both
    * plans are output-identical, so a borderline choice costs only
    * time, never correctness. */
  val PrefixFanoutCrossover: Double = 24.0

  /** [[jaccardPairs]] with AUTOMATIC physical-plan selection: a bounded
    * df probe ([[jaccardDfFanout]]) measures how much of the
    * inverted-index mass sits in hot shingles and picks the inverted
    * plan (flat df — fewer stages win) or the prefix plan (skewed df —
    * rare-first pruning wins). A 100-TB operator cannot eyeball df skew;
    * this is the measured crossover from BASELINE.md applied per-corpus.
    * The choice is logged at INFO with the statistic that drove it. */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue,
      targetSample: Long = 10000L, knownRows: Long = -1L): DataFrame = {
    val (fanout, estPostings) =
      jaccardProbe(df, idCol, textCol, n, targetSample, knownRows)
    val usePrefix = fanout > PrefixFanoutCrossover
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    // 2x safety factor on the MEAN (ADVICE r11): hash-key skew under
    // maxShingleDf, or AQE coalescing small partitions, can put a single
    // partition's build side well past the average — and a mis-pick
    // toward sort-merge only costs a spill-capable sort, while a
    // mis-pick toward shuffle-hash re-creates the OOM the cap exists for
    val shj = estPostings / math.max(parts, 1) <= ShjBuildRowsCap / 2
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"jaccardPairsAuto: dfFanout=$fanout (crossover $PrefixFanoutCrossover) -> " +
        (if (usePrefix) "prefix (AllPairs/PPJoin)" else "inverted-index") +
        s" plan; estPostings=$estPostings/$parts partitions -> " +
        (if (shj) "shuffle-hash" else "sort-merge") + " self-join")
    jaccardPairs(df, idCol, textCol, n, threshold, maxShingleDf, usePrefix,
      shuffleHash = shj)
  }

  // ------------------------------------------------- cross-table (decontamination)

  /** Cross-table near-dup pairs: every (left, right) pair with shingle
    * Jaccard ≥ threshold — the DECONTAMINATION primitive (training corpus
    * × benchmark/eval set overlap). Same inverted-index shape as
    * [[jaccardPairs]] but between two tables: cost is Σ df_L(s)·df_R(s),
    * and since the eval side is tiny in practice the index join degrades
    * gracefully. `maxShingleDf` caps df over the combined universe. */
  def crossJaccardPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    val shL0 = left.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
    val shR0 = right.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
    val (shLs, shRs) =
      if (maxShingleDf == Long.MaxValue) (shL0, shR0)
      else {
        val hot = broadcast(shL0.unionByName(shR0)
          .groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf).select("sh"))
        (shL0.join(hot, Seq("sh"), "left_anti"), shR0.join(hot, Seq("sh"), "left_anti"))
      }
    // hashed + materialized: each side feeds its size agg and the join
    // (see [[hashedShingles]] for the cross-engine hash argument)
    val shL = Materialize.eager(shLs.select(col("id"), tokHash61(col("sh")).as("h")),
      "Dedup.crossJaccardPairs.shL")
    val shR = Materialize.eager(shRs.select(col("id"), tokHash61(col("sh")).as("h")),
      "Dedup.crossJaccardPairs.shR")
    val szL = shL.groupBy("id").agg(count(lit(1)).as("sz"))
    val szR = shR.groupBy("id").agg(count(lit(1)).as("sz"))
    shL.as("a").join(shR.as("b").hint("shuffle_hash"), col("a.h") === col("b.h"))
      .groupBy(col("a.id").as("id_l"), col("b.id").as("id_r"))
      .agg(count(lit(1)).as("inter"))
      .join(szL.select(col("id").as("id_l"), col("sz").as("sz_l")), "id_l")
      .join(szR.select(col("id").as("id_r"), col("sz").as("sz_r")), "id_r")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_l") + col("sz_r") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
  }

  /** Decontaminate: drop from `train` every row whose text is a near-dup
    * of any `eval` row (the purge a pipeline applies before training so
    * benchmarks stay meaningful). */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    val contaminated = crossJaccardPairs(train, eval, idCol, textCol, n,
        threshold, maxShingleDf)
      .select(col("id_l").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** EXACT n-gram containment contamination — the other decontamination
    * semantic: a train doc is contaminated when it CONTAINS at least
    * `minHits` distinct word n-grams of some eval doc (the long-n-gram
    * overlap check of large-LM training hygiene, typically n ≈ 13),
    * regardless of how dissimilar the rest of the documents are. The
    * Jaccard flavor ([[crossJaccardPairs]]) misses a benchmark question
    * quoted inside a long web page (overlap tiny relative to |A∪B|);
    * containment is the right test for verbatim leakage.
    *
    * Plan shape for 100 TB: the eval side is tiny by contract, so its
    * distinct hashed n-grams BROADCAST and the train side is ONE scan +
    * explode with a broadcast hash join — no shuffle of train data at
    * all until the per-(train, eval) hit count, which aggregates only
    * MATCHING gram rows (rare by construction at n ≈ 13). Returns
    * (id_l, id_r, shared) = train id, eval id, distinct shared n-grams.
    *
    * Long n-grams need no df cap: at n = 13 a natural-language gram is
    * almost surely unique, which is exactly why containment works. */
  /** Ceiling on the eval rows [[ngramContamination]] will broadcast.
    * Eval/benchmark sets are small by contract; a caller who broadcasts a
    * million-doc "eval" side gets a driver OOM, so past this the guard
    * refuses loudly (override `maxEvalRows` if the driver can truly hold
    * it). Same bounded-probe trick as [[MaxBruteCosineRows]]: the check
    * reads at most maxEvalRows + 1 rows however large the table is. */
  val MaxBroadcastEvalRows: Long = 100000L

  def ngramContamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minHits: Long = 1L,
      maxEvalRows: Long = MaxBroadcastEvalRows): DataFrame = {
    require(n >= 1 && minHits >= 1)
    val over =
      if (maxEvalRows >= Int.MaxValue) eval.count() > maxEvalRows
      else eval.select(col(idCol)).limit(maxEvalRows.toInt + 1).count() > maxEvalRows
    require(!over,
      s"ngramContamination broadcasts the distinct eval gram set — eval side " +
        s"exceeds maxEvalRows $maxEvalRows; pass a larger maxEvalRows explicitly " +
        "only if the driver can hold its grams, or shard the eval set")
    val tr = train.select(col(idCol).as("id_l"),
        explode(shingles(col(textCol), n)).as("sh"))
      .select(col("id_l"), tokHash61(col("sh")).as("h"))
    val ev = broadcast(eval.select(col(idCol).as("id_r"),
        explode(shingles(col(textCol), n)).as("sh"))
      .select(col("id_r"), tokHash61(col("sh")).as("h"))
      .distinct())
    tr.join(ev, Seq("h"))
      // distinct BEFORE counting: a gram repeated inside one train doc is
      // one leak, not several
      .select("id_l", "id_r", "h").distinct()
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minHits)
  }

  /** Purge wrapper for [[ngramContamination]]: train minus every doc
    * containing an eval n-gram. */
  def decontaminateExact(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minHits: Long = 1L,
      maxEvalRows: Long = MaxBroadcastEvalRows): DataFrame =
    train.join(
      ngramContamination(train, eval, idCol, textCol, n, minHits, maxEvalRows)
        .select(col("id_l").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Bloom-gated exact n-gram containment — IDENTICAL semantics to
    * [[ngramContamination]] (same (id_l, id_r, shared) output on the same
    * inputs; pinned by spec and by the shared `dedup_contains_ngram`
    * oracle), but a different memory envelope for the eval side.
    *
    * [[ngramContamination]] broadcasts the full distinct eval-gram
    * relation — right for benchmark-sized evals, a multi-GB hash relation
    * once the eval side reaches ~10⁸ grams (100k docs × ~10³ grams at
    * n = 13). Here the only task-resident structure is a Bloom filter at
    * `bitsPerGram` bits per gram (10 MB per 10M grams at the default 8):
    *
    *  1. distinct eval grams, localCheckpointed (reused by the count, the
    *     filter build, and the exact join — one explode, not three);
    *  2. ONE partial-agg pass builds the filter ([[graft.functions.Bloom]],
    *     Spark's own runtime-filter expressions — codegen'd, merges are
    *     bitwise OR); its size is loudly bounded by `Bloom.MaxNumBits`,
    *     admitting ~10⁹ grams at 8 bits each — far past the broadcast
    *     path's ceiling;
    *  3. the train side explodes and probes the filter MAP-SIDE, before
    *     any exchange — the contamination join's shuffle carries only
    *     survivors: true leaks (rare at n = 13 by construction) plus the
    *     ~2% false-positive mass, which the exact hash equi-join then
    *     discards (false positives cost work, never correctness);
    *  4. the exact join is a plain shuffle join of two small survivor
    *     sides — AQE broadcasts the eval side when it measures small, but
    *     nothing REQUIRES it to fit. */
  def ngramContaminationBloom(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minHits: Long = 1L,
      bitsPerGram: Int = 8): DataFrame = {
    require(n >= 1 && minHits >= 1)
    require(bitsPerGram >= 2, s"bitsPerGram=$bitsPerGram — below 2 the " +
      "false-positive rate defeats the pre-filter")
    val ev = Materialize.eager(eval.select(col(idCol).as("id_r"),
        explode(shingles(col(textCol), n)).as("sh"))
      .select(col("id_r"), tokHash61(col("sh")).as("h"))
      .distinct(),
      "Dedup.ngramContaminationBloom.ev")
    // sizing only: (id_r, h) pair count ≥ distinct grams, so the filter is
    // at worst oversized (lower fp) — no extra distinct shuffle to size it
    val nGrams = math.max(1L, ev.count())
    val bloom = graft.functions.Bloom.build(ev, col("h"), nGrams,
      bitsPerGram.toLong * nGrams)
    val survivors = train.select(col(idCol).as("id_l"),
        explode(shingles(col(textCol), n)).as("sh"))
      .select(col("id_l"), tokHash61(col("sh")).as("h"))
      .filter(graft.functions.Bloom.mightContain(bloom, col("h")))
    survivors.join(ev, Seq("h"))
      .select("id_l", "id_r", "h").distinct()
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minHits)
  }

  // --------------------------------------------------- span-level stripping

  /** SPAN-level boilerplate removal — the complement of doc-level dedup:
    * instead of dropping whole near-duplicate documents, drop the tokens
    * covered by any word n-gram that appears in ≥ `minDf` DISTINCT docs
    * (site-wide footers, navigation chrome, license blocks), keeping the
    * unique body. Returns df with textCol REPLACED by the cleaned text
    * (all other columns pass through). Untouched documents pass through
    * BYTE-IDENTICAL (a curation pipeline must not rewrite clean docs);
    * stripped documents keep their original casing and the original
    * whitespace run between adjacent surviving tokens — each stripped
    * span collapses to a single space, boundary whitespace is trimmed,
    * and a fully-boilerplate doc comes back as ''. (Gram DETECTION still
    * lowercases — "Footer" and "footer" are the same boilerplate — only
    * the rebuild reads original bytes.)
    *
    * Plan shape for 100 TB: positional grams explode once; df is one
    * hash-shuffle groupBy over 61-bit gram hashes counting DISTINCT docs;
    * hot grams (df ≥ minDf) join back against the positional grams, and
    * covered token positions anti-join the positional tokens. Every join
    * key is an 8-byte hash or (id, pos) pair — no string shuffles. The
    * hot set is the boilerplate universe — small by construction at a
    * sane `minDf`, and AQE broadcasts it when it measures small.
    *
    * Span semantics: a position is covered when ANY hot n-gram's window
    * [pos, pos+n-1] contains it, so overlapping hot grams merge into one
    * stripped span naturally. A gram repeated inside ONE doc does not
    * make the gram hot (df counts distinct docs). */
  def stripHotSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Long = 2L, hash128: Boolean = false): DataFrame = {
    require(n >= 1 && minDf >= 2, s"n=$n minDf=$minDf (minDf < 2 strips everything)")
    require(Seq("__tk", "__cov", "__cid").forall(!df.columns.contains(_)),
      "stripHotSpans reserves columns __tk, __cov, __cid")
    val keys = gramKeyCols(hash128)
    // floor before the positional-gram hash kernel AND the map-side
    // rebuild, both of which otherwise inherit the one-footer scan
    // partitioning (guide §2.5; measured −1.2 s at sf0.1; no-op at scale)
    val src = Par.floor(df, idCol)
    val grams = positionalGrams(src, idCol, textCol, n, hash128)
    val hot = grams.select(col("id") +: keys.map(col): _*).distinct()
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select(keys.map(col): _*)
    // covered positions aggregate to ONE set per contaminated doc (only
    // hot-gram hits flow through this shuffle), and the text rebuilds
    // MAP-SIDE with an indexed-filter HOF over the doc's token array —
    // the first cut exploded every token and pushed the whole corpus
    // through an anti-join shuffle plus a collect_list rebuild, i.e. two
    // O(corpus-tokens) exchanges for what is per-doc local work
    rebuildUncovered(src, idCol, textCol,
      coveredSets(grams.join(hot, keys), n))
  }

  /** Cross-document EXACT substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", re-expressed over word
    * n-grams instead of a suffix array): every n-token window that occurs
    * MORE THAN ONCE in the corpus — across documents or repeated within
    * one — keeps its FIRST occurrence (min (id, pos)) and is stripped
    * everywhere else. A passage of length ≥ n duplicated between two docs
    * covers every token of the later copy (each token sits inside at least
    * one fully-duplicated window), so the later doc keeps only its unique
    * surround; the first doc is untouched. Contrast [[stripHotSpans]]:
    * boilerplate stripping removes a hot gram from EVERY doc, this keeps
    * one canonical copy.
    *
    * Same plan skeleton as [[stripHotSpans]] — positional 61-bit gram
    * hashes, one hash-shuffle per stage, covered-set aggregation, map-side
    * codegen rebuild. The owner resolution is ONE aggregate per gram hash
    * (min (id, pos) + occurrence count) joined back against the positional
    * grams — no window function, so a viral passage (millions of
    * occurrences of one hash) partial-aggregates map-side instead of
    * sorting one hot window partition. */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      n: Int = 13, hash128: Boolean = false): DataFrame = {
    require(n >= 1, s"n=$n")
    require(Seq("__tk", "__cov", "__cid").forall(!df.columns.contains(_)),
      "dedupSubstrings reserves columns __tk, __cov, __cid")
    val keys = gramKeyCols(hash128)
    val grams = positionalGrams(df, idCol, textCol, n, hash128)
    val owners = grams.groupBy(keys.map(col): _*).agg(
        min(struct(col("id"), col("pos"))).as("__first"),
        count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(keys.map(col) :+ col("__first.id").as("__oid") :+
        col("__first.pos").as("__opos"): _*)
    val later = grams.join(owners, keys)
      .filter(!(col("id") === col("__oid") && col("pos") === col("__opos")))
    rebuildUncovered(df, idCol, textCol, coveredSets(later, n))
  }

  /** Paragraph-identity hash columns: `xxhash64(para)`, plus a second
    * independent 64-bit lane (the same xxhash64 over a salted input)
    * under the opt-in `hash128` flag — for corpora whose paragraph
    * population outgrows the 64-bit birthday envelope. The (hash, len)
    * pair stays the identity either way; default unchanged. */
  private def paraHashCols(para: Column, hash128: Boolean): Seq[Column] =
    if (hash128)
      Seq(xxhash64(para).as("h"), xxhash64(lit("graft-h2"), para).as("h2"))
    else Seq(xxhash64(para).as("h"))

  private def paraKeyNames(hash128: Boolean): Seq[String] =
    if (hash128) Seq("h", "h2") else Seq("h")

  /** Gram-identity key columns: the 61-bit hash, plus the second
    * independent 61-bit lane under the opt-in [[hash128]] flag — for
    * corpora whose gram population outgrows the 64-bit birthday envelope
    * (~2^30 distinct grams for a 1-in-2^4 collision somewhere; a 100-TB
    * corpus has ~2^40 gram instances). Doubles the key bytes on the
    * gram shuffles; default off. */
  private def gramKeyCols(hash128: Boolean): Seq[String] =
    if (hash128) Seq("h", "h2") else Seq("h")

  /** Positional word n-grams of `textCol`: (id, pos, h) with 0-based pos
    * over the whitespace-filtered lowercased token array and the
    * engine-wide 61-bit gram hash. The source is re-scanned by callers
    * (token side, id spine) and tokenization recomputes each time —
    * deliberately NOT checkpointed: a materialized token copy of a 100-TB
    * corpus costs ~the corpus again in executor storage, while the
    * re-scan is a column-pruned parquet read + a codegen'd split. The
    * ONLY checkpoint is this compact (id, pos, h) gram table (8-byte
    * hashes), which every caller consumes twice. */
  private def positionalGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, hash128: Boolean = false): DataFrame =
    Materialize.eager(positionalGramsParityProbe(df, idCol, textCol, n, hash128),
      "Dedup.positionalGrams")

  /** [[positionalGrams]]' plan without the production checkpoint —
    * exposed for GramHashesParitySpec (the spec must compare THE plan,
    * not a copy that could drift). */
  private[operators] def positionalGramsParityProbe(df: DataFrame,
      idCol: String, textCol: String, n: Int,
      hash128: Boolean = false): DataFrame = {
    def toks = filter(
      split(lower(col(textCol)), graft.functions.TextHash.WsRegex),
      t => t =!= "")
    val tk = df.select(col(idCol).as("id"), toks.as("__tk"))
    // gram hashes come from ONE kernel walk per document (r13, guide §4
    // — [[graft.functions.GramHashKernel]]: modular prefix rolling, O(T)
    // instead of the HOF spelling's O(T·n) re-hash per window; bit-exact
    // by the rolling identity, pinned by GramHashesParitySpec and every
    // substring/strip-spans oracle). The length guard runs BEFORE the
    // kernel/explode; the kernel returns an empty array below n tokens
    // anyway, but the filter keeps those rows off the explode entirely.
    val filtered = tk.filter(size(col("__tk")) >= n)
    if (hash128)
      filtered.select(col("id"), posexplode(
          graft.functions.GramHashesExpr(col("__tk"), n, second = true))
        .as(Seq("pos", "hs")))
        .select(col("id"), col("pos"), col("hs.h").as("h"), col("hs.h2").as("h2"))
    else
      filtered.select(col("id"), posexplode(
          graft.functions.GramHashesExpr(col("__tk"), n, second = false))
        .as(Seq("pos", "h")))
  }

  /** The HOF spelling of [[positionalGrams]]' hash construction —
    * semantically identical (window slice + join + [[tokHash61]]), kept
    * as the executable cross-check spec (GramHashesParitySpec asserts
    * row-identical output against the kernel). */
  private[operators] def positionalGramsExpanded(df: DataFrame,
      idCol: String, textCol: String, n: Int,
      hash128: Boolean = false): DataFrame = {
    def toks = filter(
      split(lower(col(textCol)), graft.functions.TextHash.WsRegex),
      t => t =!= "")
    val tk = df.select(col(idCol).as("id"), toks.as("__tk"))
    def gramStr(i: Column) = array_join(slice(col("__tk"), i + lit(1), lit(n)), " ")
    val filtered = tk.filter(size(col("__tk")) >= n)
    if (hash128)
      filtered.select(col("id"), posexplode(
          transform(sequence(lit(0), size(col("__tk")) - n),
            i => struct(tokHash61(gramStr(i)).as("h"),
              tokHash61b(gramStr(i)).as("h2"))))
        .as(Seq("pos", "hs")))
        .select(col("id"), col("pos"), col("hs.h").as("h"), col("hs.h2").as("h2"))
    else
      filtered.select(col("id"), posexplode(
          transform(sequence(lit(0), size(col("__tk")) - n),
            i => tokHash61(gramStr(i))))
        .as(Seq("pos", "h")))
  }

  /** One covered-position set per affected doc from a (id, pos, …) table
    * of to-strip gram occurrences: only strip hits flow through this
    * shuffle. */
  private def coveredSets(hits: DataFrame, n: Int): DataFrame =
    hits.select(col("id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .groupBy("id").agg(collect_set(col("pos")).as("__cov"))
      .withColumnRenamed("id", "__cid")

  /** Span-preserving rebuild: walk the ORIGINAL string once (token
    * boundaries are whitespace, so positions line up with the lowercased
    * gram tokens 1:1), keep uncovered tokens, and stitch them with the
    * original separator when the two tokens were adjacent — a single
    * space where a stripped span sat between them. One codegen'd kernel
    * call per covered doc ([[graft.functions.StripSpansRebuild]]); the
    * HOF spelling (regexp token+separator extraction + aggregate stitch)
    * ran interpreted and tripled the query's bench time. Map-side; no
    * extra shuffle.
    * Every OTHER column of df passes through untouched — the operator
    * replaces the text, it does not narrow the row. Null-safe key match:
    * a NULL id must not silently keep its boilerplate (ADVICE r4). */
  private def rebuildUncovered(df: DataFrame, idCol: String, textCol: String,
      covSets: DataFrame): DataFrame =
    df.join(covSets, col(idCol) <=> col("__cid"), "left")
      .withColumn(textCol,
        when(col("__cov").isNull, col(textCol))
          .otherwise(graft.functions.StripSpansRebuild(
            col(textCol), col("__cov"))))
      .drop("__cov", "__cid")

  // ------------------------------------------------- paragraph-level dedup

  /** PARAGRAPH-grain exact dedup (Dolma's `dedupe-by-paragraph` mode) —
    * the granularity between whole-document exact dedup and the n-gram
    * window machinery above: every paragraph (a `sep`-delimited segment,
    * byte-exact equality) that occurs more than once in the corpus keeps
    * its FIRST occurrence (min (id, idx)) and is dropped everywhere else;
    * documents rebuild with their surviving paragraphs in order, other
    * columns untouched, untouched docs byte-identical. Paragraphs shorter
    * than `minChars` are EXEMPT (always kept): empty segments and
    * one-word lines would otherwise cross-link unrelated documents into
    * one dedup class.
    *
    * Plan shape for 100 TB: one posexplode to paragraph grain carrying
    * only `(id, idx, xxhash64(para), length)` — the paragraph STRINGS
    * never cross an exchange; the winner per (hash, len) is ONE
    * partial-aggregatable `min(struct(id, idx))` (no window function, so
    * a viral paragraph with millions of copies map-side-combines instead
    * of sorting one hot partition); only duplicate occurrences flow into
    * the per-doc kill sets; the rebuild re-splits map-side and drops
    * killed indexes with an indexed-filter HOF. Dedup identity is the
    * (64-bit hash, length) pair — a collision mislabels a paragraph
    * duplicate with per-pair probability ~2^-64, deterministic for fixed
    * inputs (same trade as [[graft.operators.SnapshotDiff]], documented). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minChars: Int = 1,
      scopeCols: Seq[String] = Nil, hash128: Boolean = false): DataFrame = {
    require(sep.nonEmpty, "dedupParagraphs: empty separator")
    require(minChars >= 1, s"minChars=$minChars")
    require(!df.columns.contains("__kill"),
      "dedupParagraphs reserves column __kill")
    require(!scopeCols.contains(idCol),
      s"dedupParagraphs: scope already includes the id '$idCol'")
    val sepRe = java.util.regex.Pattern.quote(sep)
    // limit -1: trailing empty segments are REAL paragraphs (they carry
    // separator structure the rebuild must reproduce byte-identically)
    val parts = split(col(textCol), sepRe, -1)
    // scopeCols fold into the dedup key: a paragraph deduplicates only
    // against copies in the SAME scope (per language, per snapshot —
    // cross-scope identical paragraphs both survive). Empty scope =
    // corpus-global, the Dolma default.
    val scope = scopeCols.map(col)
    val ph = df.select((col(idCol).as("__pid") +: scope) :+
        posexplode(parts).as(Seq("idx", "para")): _*)
      .select(col("__pid") +: col("idx") +:
        (paraHashCols(col("para"), hash128) :+
          length(col("para")).as("len")) ++: scope: _*)
      .filter(col("len") >= minChars)
    val keyCols = scopeCols ++ paraKeyNames(hash128) :+ "len"
    val winners = ph.groupBy(keyCols.map(col): _*).agg(
        min(struct(col("__pid"), col("idx"))).as("__first"),
        count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select((keyCols :+ "__first").map(col): _*)
    val kills = ph.join(winners, keyCols)
      .filter(struct(col("__pid"), col("idx")) =!= col("__first"))
      .groupBy("__pid").agg(collect_set(col("idx")).as("__kill"))
    df.join(kills, col(idCol) <=> col("__pid"), "left")
      .withColumn(textCol,
        when(col("__kill").isNull, col(textCol))
          .otherwise(array_join(
            filter(parts, (p, i) => !array_contains(col("__kill"), i)),
            sep)))
      .drop("__kill", "__pid")
  }

  /** HOT-paragraph strip — [[dedupParagraphs]]'s boilerplate sibling
    * (Dolma's threshold mode, [[stripHotSpans]]' semantics one grain up):
    * a paragraph appearing in ≥ `minDf` DISTINCT documents is site-wide
    * chrome (footer, nav, license block) and is dropped from EVERY doc —
    * no canonical survivor, unlike keep-first. Within-doc repetition
    * does not make a paragraph hot (df counts distinct docs). Same plan
    * skeleton and exemption rule as [[dedupParagraphs]]: paragraph
    * strings never cross an exchange, the df count partial-aggregates
    * map-side, the rebuild re-splits map-side. */
  def stripHotParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDf: Long = 2L, minChars: Int = 1,
      scopeCols: Seq[String] = Nil, hash128: Boolean = false): DataFrame = {
    require(sep.nonEmpty, "stripHotParagraphs: empty separator")
    require(minDf >= 2, s"minDf=$minDf (minDf < 2 strips everything)")
    require(minChars >= 1, s"minChars=$minChars")
    require(!df.columns.contains("__kill"),
      "stripHotParagraphs reserves column __kill")
    require(!scopeCols.contains(idCol),
      s"stripHotParagraphs: scope already includes the id '$idCol'")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val parts = split(col(textCol), sepRe, -1)
    // scopeCols bound the df count to the scope — per-SITE chrome is the
    // production shape (a footer hot on one domain must not need the
    // whole corpus's df to cross minDf, nor strip other domains' docs)
    val scope = scopeCols.map(col)
    val ph = df.select((col(idCol).as("__pid") +: scope) :+
        posexplode(parts).as(Seq("idx", "para")): _*)
      .select(col("__pid") +: col("idx") +:
        (paraHashCols(col("para"), hash128) :+
          length(col("para")).as("len")) ++: scope: _*)
      .filter(col("len") >= minChars)
    val keyCols = scopeCols ++ paraKeyNames(hash128) :+ "len"
    val hot = ph.select(("__pid" +: keyCols).map(col): _*).distinct()
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select(keyCols.map(col): _*)
    val kills = ph.join(hot, keyCols)
      .groupBy("__pid").agg(collect_set(col("idx")).as("__kill"))
    df.join(kills, col(idCol) <=> col("__pid"), "left")
      .withColumn(textCol,
        when(col("__kill").isNull, col(textCol))
          .otherwise(array_join(
            filter(parts, (p, i) => !array_contains(col("__kill"), i)),
            sep)))
      .drop("__kill", "__pid")
  }

  // ------------------------------------------------------------- MinHash

  /** k seeded universal-hash parameters (a, b) for (a·x + b) mod P.
    * Deterministic (seed 42) and inlined into the DuckDB oracle. */
  val MinHashP = 2147483647L // 2^31 - 1
  val MinHashK = 16
  val minHashParams: Vector[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Vector.fill(MinHashK)(
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures in long format: (id, j, sig) — k rows per doc.
    *
    * Shape matters here: explode the shingle set ONCE, hash each shingle
    * ONCE (codegen'd PolyHash), then take the k minima as k plain `min`
    * aggregates in a single hash-aggregate pass. The tempting HOF spelling
    * (k× array_min(transform(...))) re-evaluates the shingle+hash subtree
    * per hash function — Catalyst inlines the shared projection — and was
    * ~10× slower at sf0.1. Docs with no shingles (< n tokens) drop out,
    * matching the oracle's shingle-level grouping. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxShingleDf: Long = Long.MaxValue,
      excludeHashes: Option[DataFrame] = None): DataFrame = {
    val hashed = excludedShingles(
        cappedShingles(df, idCol, textCol, n, maxShingleDf), excludeHashes)
      .select(col("id"), strHash(col("sh")).as("x"))
    val mins = minHashParams.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("x") + lit(b)) % MinHashP).as(s"__s$j")
    }
    val wide = hashed.groupBy("id").agg(mins.head, mins.tail: _*)
    val sigs = minHashParams.indices.map(j =>
      struct(lit(j).as("j"), col(s"__s$j").as("sig")))
    wide.select(col("id"), explode(array(sigs: _*)).as("s"))
      .select(col("id"), col("s.j").as("j"), col("s.sig").as("sig"))
  }

  /** MinHash-LSH near-dup pairs: band the k signatures into `bands` buckets
    * of `k/bands` rows, equi-join docs sharing any band bucket, then verify
    * candidates with exact Jaccard (so precision is 1; recall is a property
    * of the banding and is spec-tested). */
  /** (id, band, bkey) LSH band keys — the unit the band-bucket equi-join
    * runs on, exposed so INCREMENTAL consumers (streaming dedup) can
    * persist the keys of admitted docs and join each new batch against
    * them. The df cap applies to the SIGNATURES too, not just the verify:
    * otherwise boilerplate shingles dominate the min-hashes and the band
    * self-join re-creates the O(n²) hot-bucket blowup the cap exists to
    * prevent (and candidates would target a different Jaccard than the
    * capped verify filters on). */
  def minhashBandKeys(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4,
      maxShingleDf: Long = Long.MaxValue,
      excludeHashes: Option[DataFrame] = None): DataFrame = {
    // same loud contract as cosineNearDupsLSH: a non-divisor silently
    // yields a ragged extra band (16/5 → a 1-signature band) that
    // collides on ANY shared min-hash — the O(n²) hot-bucket blowup with
    // a recall curve the caller never asked for
    require(MinHashK % bands == 0, s"bands $bands must divide MinHashK=$MinHashK")
    val rows = MinHashK / bands
    // band key = the band's signature rows, sorted for determinism
    // (collect_list order is not guaranteed)
    minhashSignatures(df, idCol, textCol, n, maxShingleDf, excludeHashes)
      .withColumn("band", (col("j") / rows).cast("int"))
      .groupBy("id", "band")
      .agg(array_join(array_sort(collect_list(
        format_string("%02d:%012d", col("j"), col("sig")))), "|").as("bkey"))
  }

  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, threshold: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    // materialized once — exchange reuse does not dedupe aliased self-join
    // sides (measured on the simhash twin), and this side carries the
    // whole shingle+cap+two-aggregation pipeline
    val sigSorted = Materialize.eager(minhashBandKeys(df, idCol, textCol, n, bands, maxShingleDf),
      "Dedup.minhashNearDups.sigSorted")
    val cand = sigSorted.as("a")
      .join(sigSorted.as("b").hint("shuffle_hash"), // band keys: no sort value
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccardPairs(cand, df, idCol, textCol, n, threshold, maxShingleDf)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs: verify
    * ONLY the candidates (two dimension joins + per-pair set
    * intersection), not a full inverted-index join — this is what makes
    * LSH pay off at scale. The same df cap applies to the verify universe
    * (boilerplate shingles excluded from both intersection and sizes,
    * same approximation). */
  def verifyJaccardPairs(cand: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxShingleDf: Long = Long.MaxValue): DataFrame =
    verifyJaccardPairsWithSets(cand,
      shingleSets(docs, idCol, textCol, n, maxShingleDf), threshold)

  /** Per-doc hashed shingle SETS: (id, sh) — the verify-stage input,
    * exposed so a caller with several candidate lists over one doc
    * universe (the streaming gate) builds the sets ONCE instead of
    * re-shingling per verify call. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long = Long.MaxValue,
      excludeHashes: Option[DataFrame] = None): DataFrame = {
    val base = hashedShingles(docs, idCol, textCol, n, maxShingleDf)
    excludeHashes.fold(base)(ex =>
        base.join(broadcast(ex.select("h")), Seq("h"), "left_anti"))
      .groupBy("id").agg(collect_set(col("h")).as("sh"))
  }

  /** [[verifyJaccardPairs]] against precomputed [[shingleSets]]. Extra
    * columns on `cand` beyond (id_a, id_b) pass through to the output
    * (r13 — lets a caller tag fused candidate families and split AFTER
    * one shared verify instead of verifying per family). */
  def verifyJaccardPairsWithSets(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(cand.columns.map(col) :+ col("jaccard"): _*)

  // ------------------------------------------------------------- SimHash

  /** 61-bit token hash: two independent rolling hashes combined. */
  private[graft] def tokHash61(t: Column): Column =
    graft.functions.PolyHash(t, 31L) +
      shiftleft(graft.functions.PolyHash(t, 37L), 30)

  /** Second independent 61-bit lane (multipliers 41/43) — together with
    * [[tokHash61]] the opt-in 122-bit gram identity (`hash128` flags). */
  private[graft] def tokHash61b(t: Column): Column =
    graft.functions.PolyHash(t, 41L) +
      shiftleft(graft.functions.PolyHash(t, 43L), 30)

  val SimHashBits = 60

  /** Term-frequency SimHash: per bit j, sum ±1 over tokens by bit j of the
    * token hash; bit set iff the sum is positive. Returned as one BIGINT
    * (Σ bit_j · 2^j). Codegen'd single scan
    * ([[graft.functions.SimHash64]]); round-1's HOF spelling (kept below
    * as the executable spec) ran interpreted and allocated a 60-element
    * array per token. */
  def simhash(text: Column): Column = graft.functions.SimHash64(text)

  /** The HOF spelling of [[simhash]] — semantically identical, kept as an
    * executable cross-check spec (DedupSpec asserts equality). */
  private[operators] def simhashHof(text: Column): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    // the Scala shiftright/shiftleft APIs take a literal Int shift; the SQL
    // functions accept a column — call them via call_function
    val contrib = transform(toks, t => {
      val h = tokHash61(t)
      transform(sequence(lit(0), lit(SimHashBits - 1)),
        j => when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1, lit(1))
          .otherwise(lit(-1)))
    })
    val sums = aggregate(contrib,
      array_repeat(lit(0), SimHashBits),
      (acc, bits) => zip_with(acc, bits, _ + _))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(SimHashBits - 1)),
        (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** (offset, width) of each of `blocks` contiguous bit blocks over the
    * 60 simhash bits — the first `60 % blocks` blocks get the extra bit. */
  private def simhashBlockDims(blocks: Int): IndexedSeq[(Int, Int)] = {
    val base = SimHashBits / blocks
    val rem = SimHashBits % blocks
    (0 until blocks).map(i =>
      (i * base + math.min(i, rem), base + (if (i < rem) 1 else 0)))
  }

  /** SimHash near-dup PAIRS within hamming distance `maxHamming` — the
    * consumer round-1 lacked (fingerprints were a dead end, VERDICT
    * missing #4). Generalized pigeonhole band join (the multi-index
    * hashing recipe of Norouzi/Punjani/Fleet, "Fast Search in Hamming
    * Space with Multi-Index Hashing", CVPR 2012): the 60 bits split
    * into `blocks` = B ≥ d+1 blocks; d bit errors corrupt at most d
    * blocks, so two fingerprints within distance d agree EXACTLY on at
    * least B−d whole blocks — hence on at least one (B−d)-combination
    * of blocks — and candidates come from an equi-join on (combination
    * idx, concatenated block values), never an all-pairs scan, verified
    * with the exact popcount. Precision 1; recall 1 (the pigeonhole
    * bound is exact, not probabilistic) at ANY valid B.
    *
    * B is the scale knob (r5 verdict #2): the default B = d+1 joins on
    * single blocks of 60/(d+1) bits, whose random collisions grow
    * ∝ n²/2^(60/(d+1)) — measured 12× cost at 10× rows at d=4. Raising
    * B widens the key to 60(B−d)/B bits (collisions shrink by orders
    * of magnitude) at the price of C(B,d) index rows per document —
    * [[simhashAutoBlocks]] picks the cheapest B for a given n, and
    * [[simhashPairsAuto]] applies it. */
  def simhashPairs(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, blocks: Int = 0): DataFrame = {
    // same loud contract as the other banding guards: maxHamming >= bits
    // yields zero-width blocks whose key is identical for EVERY document —
    // the O(n²) all-pairs blowup the pigeonhole join exists to avoid (and
    // at that distance everything is a "near-dup" anyway)
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming $maxHamming must be in [0, $SimHashBits)")
    val d = maxHamming
    val b = if (blocks <= 0) d + 1 else blocks
    require(b >= d + 1 && b <= SimHashBits,
      s"blocks $b must be in [maxHamming + 1 = ${d + 1}, $SimHashBits]")
    val dims = simhashBlockDims(b)
    def blockVal(h: Column, i: Int): Column =
      shiftright(h, dims(i)._1).bitwiseAND(lit((1L << dims(i)._2) - 1))
    val combos = (0 until b).combinations(b - d).map(_.toIndexedSeq).toIndexedSeq
    require(combos.size <= 64,
      s"C($b, $d) = ${combos.size} index keys per document — past 64 the " +
        "index explosion outweighs any collision saving; lower blocks")
    // key for one combination: the blocks' bits concatenated (total width
    // is at most 60 − d·(60/B) < 60, always a single long)
    def comboVal(h: Column, c: IndexedSeq[Int]): Column =
      c.foldLeft(lit(0L): Column)((acc, bi) =>
        shiftleft(acc, dims(bi)._2).bitwiseOR(blockVal(h, bi)))
    def comboMask(c: IndexedSeq[Int]): Long =
      c.map(bi => ((1L << dims(bi)._2) - 1) << dims(bi)._1).reduce(_ | _)
    val keys = combos.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("b"), comboVal(col(simhashCol), c).as("v"))
    }
    // materialized once — the self-join would otherwise recompute the
    // upstream simhash scan on both sides
    val keyed = Materialize.eager(df.select(col(idCol).as("id"), col(simhashCol),
        explode(array(keys: _*)).as("bk"))
      .select(col("id"), col(simhashCol).as("h"), col("bk")),
      "Dedup.simhashPairs.keyed")
    // A close pair can agree on several combinations; instead of emitting
    // it per agreeing combination and dropDuplicates-ing (a shuffle of the
    // whole candidate set), keep each pair only at its FIRST agreeing
    // combination: a CASE chain over the pair's XOR finds it with pure bit
    // math on the two fingerprints already in the joined row — no extra
    // shuffle, exact same output.
    val xor = col("a.h").bitwiseXOR(col("b.h"))
    val firstAgree = combos.indices.reverse.foldLeft(lit(-1): Column) {
      (els, i) =>
        when(xor.bitwiseAND(lit(comboMask(combos(i)))) === 0, lit(i))
          .otherwise(els)
    }
    keyed.as("a").join(keyed.as("b").hint("shuffle_hash"), // block keys: no sort value
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id") &&
          col("a.bk.b") === firstAgree)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.h"), col("b.h")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Pigeonhole block count for an n-row corpus at distance d. Cost
    * model per candidate plan: C(B,d)·n·w_idx index rows (explode +
    * checkpoint + shuffle each) + C(B,d)·n²/2^(width+1) expected random
    * collisions (one hash-probe + popcount each), width conservatively
    * the B−d NARROWEST blocks' bits. The default B = d+1 is kept unless
    * the best wider plan is predicted ≥ `switchMargin`× cheaper —
    * CALIBRATED against the round-6 rehearsal probe (BASELINE.md): at
    * 52.5k Zipf docs, d=4, the measured cost is OUTPUT-bound (1.5M true
    * pairs; B∈{5,6,7} time 7.3/10.6/6.7 s with identical output), so
    * widening must not trigger there; the uniform-model collision term
    * (n²/2^13 at B=5) only overtakes the wider plan's index cost by 3×
    * past ~200k docs, which is where the switch lands. The WIDENING side
    * is now also measured (round 8, flat-fingerprint rehearsal with
    * bounded planted pairs, BASELINE.md): below the crossover the kept
    * default is within 10% of forced-wide; at 440k the switch to B=6
    * already wins; at 1.05M docs B=6 wins 1.6× (8.4 s vs 13.4 s) with
    * B-invariant output — the auto pick won at every measured point. Mis-picking wide
    * costs ~C(B,d)/(d+1)× index work (bounded); mis-picking narrow
    * grows ∝ n² (unbounded) — the margin biases toward the measured
    * default at bench scales while keeping the asymptotic escape.
    * C(B,d) is capped at 64 keys per document. */
  def simhashAutoBlocks(n: Long, maxHamming: Int,
      indexWeight: Double = 3.0, switchMargin: Double = 3.0): Int = {
    require(maxHamming >= 0 && maxHamming < SimHashBits)
    val d = maxHamming
    def choose(bb: Int, kk: Int): Double =
      (0 until kk).map(i => (bb - i).toDouble / (i + 1)).product
    def cost(bb: Int): Double = {
      val nCombos = choose(bb, math.min(d, bb - d))
      if (nCombos > 64) Double.MaxValue
      else {
        val width = simhashBlockDims(bb).map(_._2).sorted.take(bb - d).sum
        val nn = math.max(1L, n).toDouble
        nCombos * nn * indexWeight +
          nCombos * nn * nn / math.pow(2, width + 1)
      }
    }
    val candidates = (d + 1) to math.min(SimHashBits, d + 17)
    val best = candidates.minBy(cost)
    if (cost(d + 1) > switchMargin * cost(best)) best else d + 1
  }

  /** [[simhashPairs]] with the block count AUTO-sized to the corpus
    * (r5 verdict #2 — the one dedup family whose candidate volume still
    * grew superlinearly at rehearsal scale): one count fixes n (the
    * input is materialized first so the probe does not re-run an
    * expensive upstream; cataloged corpora skip the count via
    * `knownRows` — [[graft.model.DatasetCatalog.rowCount]]),
    * [[simhashAutoBlocks]] picks B, and the choice is logged. Output is
    * identical at any B — only the plan changes. */
  def simhashPairsAuto(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, knownRows: Long = -1L,
      maxProjectedPairs: Long = Long.MaxValue): DataFrame = {
    // the checkpoint exists ONLY to keep the sizing count from re-running
    // an expensive upstream; with knownRows there is no count, and
    // simhashPairs checkpoints its own keyed projection anyway
    val (src, n) =
      if (knownRows >= 0) (df, knownRows)
      else {
        val mat = Materialize.eager(df.select(col(idCol), col(simhashCol)),
          "Dedup.simhashPairsAuto.sizing")
        (mat, mat.count())
      }
    val b = simhashAutoBlocks(n, maxHamming)
    // OUTPUT-density probe (r11 decade finding): on signature-
    // concentrated corpora (Zipf text — hot tokens drive the same bits
    // everywhere) the TRUE hamming≤r pair set is itself quadratic
    // (measured: density 1.15e-3 at 525k docs ≈ 1.6e8 real pairs — no
    // banding can beat its own output). One bounded sample cross-join
    // measures the density; the projection is logged always, and a
    // caller-set `maxProjectedPairs` turns a doomed all-pairs run into
    // a loud refusal that names the fix (dedup on the signature as a
    // KEY — exact/grouped — or spread the signatures).
    // probe only when a bound was SET (ADVICE r11): at the default
    // unlimited bound the projection could only ever log, and the probe
    // costs two extra jobs (a TakeOrdered scan + a ~2M-comparison
    // sample join) every previously-free call
    if (maxProjectedPairs < Long.MaxValue) {
      val density = simhashPairDensity(src, idCol, simhashCol, maxHamming)
      val projected = density * n.toDouble * (n.toDouble - 1) / 2
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"simhashPairsAuto: n=$n maxHamming=$maxHamming -> $b blocks " +
          s"(default would be ${maxHamming + 1}); sampled pair density " +
          f"$density%.3e -> projected output ≈ $projected%.3e pairs")
      require(projected <= maxProjectedPairs.toDouble,
        f"simhashPairsAuto: projected hamming≤$maxHamming output " +
          f"≈ $projected%.3e pairs exceeds maxProjectedPairs=$maxProjectedPairs — " +
          "the signature distribution is too concentrated for all-pairs " +
          "enumeration (the output itself is quadratic); use " +
          "Dedup.simhashKeyedKeep (per-bucket keep-first — a keep-list " +
          "without pair materialization) or spread the signatures " +
          "(longer grams / tf weighting) instead")
    }
    simhashPairs(src, idCol, simhashCol, maxHamming, blocks = b)
  }

  /** Sampled hamming≤r pair density: a deterministic ~`sampleN`-row
    * signature sample cross-joined against itself (bounded: ≤ sampleN²
    * comparisons, one tiny job). Returns pairs / C(sample,2). */
  private[operators] def simhashPairDensity(df: DataFrame, idCol: String,
      simhashCol: String, maxHamming: Int, sampleN: Long = 2000L): Double = {
    val space = 1L << 32
    // deterministic sample: the sampleN smallest id-hashes (TakeOrdered —
    // layout-independent, one bounded job)
    val s = Materialize.eager(df.select(col(idCol).as("id"), col(simhashCol).as("sig"))
      .orderBy(pmod(xxhash64(col("id")), lit(space)))
      .limit(sampleN.toInt),
      "Dedup.simhashPairDensity.sample")
    val m = s.count()
    if (m < 2) return 0.0
    val pairs = s.as("a").join(s.as("b"),
        col("a.id") < col("b.id") &&
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= maxHamming)
      .count()
    pairs.toDouble / (m.toDouble * (m - 1) / 2)
  }

  /** Block count for [[simhashKeyedKeep]]: the LARGEST B whose
    * C(B, B−d) combination count fits the 64-keys-per-document cap —
    * i.e. the WIDEST band key 60(B−d)/B bits can buy. Pair enumeration
    * ([[simhashAutoBlocks]]) trades key width against join collisions,
    * which only cost TIME there; in keep-first dedup a random collision
    * costs QUALITY (a false drop), so the keyed operator always takes
    * the widest key the index cap allows. */
  def simhashKeyedBlocks(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming $maxHamming must be in [0, $SimHashBits)")
    val d = maxHamming
    def choose(bb: Int, kk: Int): Double =
      (0 until kk).map(i => (bb - i).toDouble / (i + 1)).product
    // C(B, B−d) == C(B, d), monotone in B at fixed d — the last B under
    // the cap is the widest-key plan
    ((d + 1) to SimHashBits).takeWhile(bb =>
      choose(bb, math.min(d, bb - d)) <= 64).lastOption.getOrElse(d + 1)
  }

  /** The (block dims, combination list) a [[simhashKeyedKeep]] run uses —
    * shared with the DuckDB oracle builder so both sides enumerate the
    * SAME (combo index → block set) mapping. */
  private[graft] def simhashKeyPlan(maxHamming: Int,
      blocks: Int): (IndexedSeq[(Int, Int)], IndexedSeq[IndexedSeq[Int]]) = {
    val d = maxHamming
    val b = if (blocks <= 0) simhashKeyedBlocks(d) else blocks
    require(b >= d + 1 && b <= SimHashBits,
      s"blocks $b must be in [maxHamming + 1 = ${d + 1}, $SimHashBits]")
    val combos = (0 until b).combinations(b - d).map(_.toIndexedSeq).toIndexedSeq
    require(combos.size <= 64,
      s"C($b, $d) = ${combos.size} index keys per document — past 64 the " +
        "index explosion outweighs any collision saving; lower blocks")
    (simhashBlockDims(b), combos)
  }

  /** Signature-KEYED near-dup dedup — the scale path
    * [[simhashPairsAuto]]'s density guard names (r11 decade finding):
    * when the TRUE hamming≤d pair set is itself quadratic (concentrated
    * signatures — measured 1.6e8 real pairs at 525k Zipf docs), no
    * banding can beat pair enumeration's own output, and the useful
    * product is a KEEP-LIST, not pairs.
    *
    * The production LSH-dedup recipe (per-bucket keep-first, the
    * RefinedWeb/CCNet shape): every document explodes into C(B, B−d)
    * pigeonhole band keys (the [[simhashPairs]] combination scheme —
    * any two signatures within hamming d share at least one key), each
    * document's representative is the SMALLEST id across its buckets'
    * minima, and a document is kept iff it is its own representative.
    * Three linear passes (bucket min, key join, per-id min) — pairs are
    * NEVER materialized, so the operator completes on exactly the
    * corpora where enumeration is output-bound.
    *
    * Contract: (a) kept documents are PAIRWISE hamming > d — two
    * survivors within d would share a bucket whose min at most the
    * smaller id, contradicting the larger being its own rep; (b)
    * exact-signature duplicates always collapse to their min id (they
    * share every bucket); (c) a dropped document's `rep` names the
    * colliding smaller id, but that id may itself be dropped through
    * another bucket (rep chains are monotone decreasing — follow them
    * for full provenance); (d) a random (non-near) band collision drops
    * a unique document — the false-drop rate shrinks with key width,
    * which is why [[simhashKeyedBlocks]] maxes it. The exact-closure
    * alternative ([[simhashPairs]] + [[resolve]]) stays the right tool
    * when the pair set is tractable. Returns the input columns plus
    * `rep` and `keep`.
    *
    * `rounds` > 1 refines the chain over-drop (contract (c)) toward the
    * greedy lexicographic MAXIMAL INDEPENDENT SET of the bucket-collision
    * graph, one linear round at a time: after each keep-first pass, a
    * dropped document that shares a bucket with a SURVIVOR is
    * permanently dropped (rep := its smallest surviving collider — full
    * provenance); one that was dropped only through a chain (its bucket
    * minima were themselves dropped) is RE-ADMITTED to the next round.
    * Cross-round safety: a re-admitted doc shares no bucket with any
    * earlier survivor, so survivors stay pairwise hamming > d across
    * rounds. Documents still undecided after `rounds` rounds are
    * conservatively dropped with a NULL rep (count logged) — raise
    * `rounds` to converge fully; hot buckets decide their whole
    * membership in one round, so few rounds decide almost everything.
    * `rounds = 1` is exactly the base rule above (rep = smallest
    * bucket-min collider, surviving or not). */
  def simhashKeyedKeep(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, blocks: Int = 0, rounds: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming $maxHamming must be in [0, $SimHashBits)")
    require(!df.columns.contains("__bk") && !df.columns.contains("rep") &&
      !df.columns.contains("keep"),
      "simhashKeyedKeep reserves columns __bk, rep, keep")
    val d = maxHamming
    val (dims, combos) = simhashKeyPlan(d, blocks)
    def blockVal(h: Column, i: Int): Column =
      shiftright(h, dims(i)._1).bitwiseAND(lit((1L << dims(i)._2) - 1))
    def comboVal(h: Column, c: IndexedSeq[Int]): Column =
      c.foldLeft(lit(0L): Column)((acc, bi) =>
        shiftleft(acc, dims(bi)._2).bitwiseOR(blockVal(h, bi)))
    val keys = combos.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("b"), comboVal(col(simhashCol), c).as("v"))
    }
    // the id→key index, materialized once: both aggregations and the
    // join read it, and the upstream (often a simhash scan) must not
    // re-run three times
    val keyed = Materialize.eager(df.select(col(idCol).as("id"),
        explode(array(keys: _*)).as("__bk")),
      "Dedup.simhashKeyedKeep.keyed")
    val verdicts =
      if (rounds == 1) {
        val bucketMin = keyed.groupBy("__bk").agg(min(col("id")).as("__bmin"))
        keyed.join(bucketMin, Seq("__bk"))
          .groupBy("id").agg(min(col("__bmin")).as("rep"))
          .withColumn("keep", col("rep") === col("id"))
      } else {
        val log = org.slf4j.LoggerFactory.getLogger(getClass)
        // undecided ids from df, not from the 64×-wider exploded key
        // table (r12: the distinct over `keyed` paid C(B,B−d) times the
        // rows for the same id set — every id has ≥1 key by construction)
        var undecided = Materialize.eager(df.select(col(idCol).as("id")).distinct(),
          "Dedup.simhashKeyedKeep.undecided")
        var decided: Seq[DataFrame] = Nil
        var r = 0
        var remaining = -1L
        while (r < rounds && remaining != 0L) {
          // round 1 semi-joins against the FULL id set — skip the join
          // and its checkpoint outright (r12: one fewer shuffle+
          // materialization of the widest frame; round 1 dominates, the
          // undecided set shrinks geometrically after it)
          val ku = if (r == 0) keyed
            else Materialize.eager(keyed.join(undecided, Seq("id")),
              "Dedup.simhashKeyedKeep.ku.round")
          val bmin = ku.groupBy("__bk").agg(min(col("id")).as("__bmin"))
          val rep = Materialize.eager(ku.join(bmin, Seq("__bk"))
            .groupBy("id").agg(min(col("__bmin")).as("rep")),
            "Dedup.simhashKeyedKeep.rep.round")
          val surv = rep.filter(col("rep") === col("id")).select("id")
          // smallest SURVIVING collider per bucket — the provenance a
          // permanently-dropped doc's rep names
          val survBk = ku.join(surv, Seq("id"))
            .groupBy("__bk").agg(min(col("id")).as("__smin"))
          val permDropped = Materialize.eager(ku.join(survBk, Seq("__bk"))
            .groupBy("id").agg(min(col("__smin")).as("rep"))
            .filter(col("rep") =!= col("id")), // survivors carry rep = id below
            "Dedup.simhashKeyedKeep.permDropped.round")
          decided = decided :+
            surv.select(col("id"), col("id").as("rep"), lit(true).as("keep")) :+
            permDropped.select(col("id"), col("rep"), lit(false).as("keep"))
          undecided = Materialize.eager(undecided
            .join(surv, Seq("id"), "left_anti")
            .join(permDropped, Seq("id"), "left_anti"),
            "Dedup.simhashKeyedKeep.undecided.round")
          remaining = undecided.count()
          log.info(s"simhashKeyedKeep: round ${r + 1}/$rounds — " +
            s"$remaining docs undecided (re-admitted next round)")
          r += 1
        }
        if (remaining > 0)
          log.info(s"simhashKeyedKeep: $remaining docs still undecided " +
            s"after $rounds rounds — conservatively dropped with NULL rep; " +
            "raise rounds to converge")
        val rest = undecided.select(col("id"),
          lit(null).cast(df.schema(idCol).dataType).as("rep"),
          lit(false).as("keep"))
        (decided :+ rest).reduce(_.unionByName(_))
      }
    df.join(verdicts.withColumnRenamed("id", idCol), Seq(idCol))
  }

  // -------------------------------------------------- pair resolution

  /** Near-dup RESOLUTION: pairs → connected components → canonical
    * keep-list. This is what a training-data pipeline actually consumes:
    * every dedup family above emits similar PAIRS, but the purge decision
    * needs the transitive closure (a~b, b~c ⇒ {a,b,c} is one duplicate
    * cluster keeping one representative).
    *
    * Two physical strategies behind one contract: edge lists at or under
    * `maxDriverEdges` (the common case — the pair list only names
    * duplicates, not the corpus) collapse via a driver union-find + one
    * broadcast join; larger graphs run the distributed propagation below.
    *
    * Distributed algorithm: iterative min-label propagation over the
    * undirected pair graph — each round every node takes the minimum component label in
    * its closed neighborhood, then a pointer-jumping step rewrites each
    * label to ITS label (comp ← comp∘comp, sound because labels are
    * always node ids of the same component). Propagation alone needs
    * O(diameter) rounds; with jumping the distance-to-minimum halves per
    * round on top of the one-hop spread, so even adversarial chains
    * converge in O(log diameter) rounds — `maxIter` = 20 covers ~2²⁰-hop
    * chains. Jumping is ADAPTIVE: real dedup clusters are shallow
    * (usually pairs) and converge in one propagation round, so the first
    * rounds skip the extra self-join and jumping engages only when round
    * 3 is reached — shallow graphs pay nothing, deep chains stay
    * logarithmic. Each round is a constant number of small shuffles over the
    * CONNECTED nodes only, and `localCheckpoint` truncates the growing
    * plan lineage (the classic Spark iterative-graph trap). Early-exits
    * when a round changes nothing; throws if `maxIter` rounds pass
    * without convergence rather than silently returning a partial
    * labeling (two keep=true rows inside one cluster = an under-purge a
    * pipeline would never notice).
    *
    * Returns ONE row per DISTINCT id: (idCol, canonical, keep).
    * `canonical` = the smallest id of the component AMONG `ids` — the
    * representative is re-anchored inside the surviving universe, because
    * a component whose global minimum exists only in `pairs` (pairs
    * computed over a superset, e.g. one partition of a corpus whose pair
    * list spans partitions) would otherwise surface with ZERO keep=true
    * rows and [[purge]] would silently delete every copy. `keep` = this
    * row is that representative. Ids absent from `pairs` are their own
    * singleton component (keep = true).
    */
  def resolve(pairs: DataFrame, ids: DataFrame, idCol: String,
      maxIter: Int = 20, maxDriverEdges: Long = 2000000L): DataFrame = {
    // materialize the (usually expensive) pair pipeline ONCE — the union
    // of both directions, the per-round joins, and the edge count would
    // each re-run it otherwise
    val undirected = Materialize.eager(pairs.select(col("id_a"), col("id_b")),
      "Dedup.resolve.undirected")
    // The edge set after near-dup detection is orders of magnitude smaller
    // than the corpus (it lists only duplicates), and connected components
    // over a small edge list needs no cluster: under the size gate, a
    // driver union-find replaces O(iterations) rounds of Spark jobs with
    // one collect + one broadcast join — same output, no per-round job
    // overhead. Past the gate (huge dup rate at corpus scale) the
    // distributed propagation below takes over unchanged.
    if (undirected.count() <= maxDriverEdges)
      driverOrd(undirected.schema.head.dataType) match {
        case Some(ord) => return resolveOnDriver(undirected, ids, idCol, ord)
        case None => () // no defined ordering for the id type — distributed
      }
    val edges = undirected.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(undirected.select(col("id_b").as("src"), col("id_a").as("dst")))
    // only CONNECTED nodes iterate — duplicate clusters are a small
    // fraction of any real corpus, so the propagation joins run on the
    // pair-graph nodes, not all N ids; singletons rejoin once at the end
    var comp = Materialize.eager(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")),
      "Dedup.resolve.comp")
    // labels only ever DECREASE (least of self and neighbors), so the sum
    // of labels strictly decreases iff any row changed — convergence is one
    // cheap aggregate instead of a join against the previous round. Summed
    // as decimal(38,0): Spark's non-ANSI long sum wraps mod 2^64, and a
    // round whose total decrease is ≡ 0 mod 2^64 (ids near Long.MaxValue)
    // would read as "unchanged" and return a partial labeling.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)"))).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO // empty graph sums to null
      else r.getDecimal(0)
    }
    var prevSum = labelSum(comp)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val nbrMin = edges
        .join(comp.select(col("id").as("dst"), col("comp").as("nc")), "dst")
        .groupBy("src").agg(min("nc").as("nc"))
      val propagated = comp
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
      // pointer jumping: comp ← comp(comp); labels are node ids of the
      // same component, so the self-join is total (coalesce for safety).
      // Engaged only once plain propagation has had 3 rounds (see above).
      val jumped =
        if (i < 3) propagated
        else propagated.as("x")
          .join(propagated.select(col("id").as("comp"), col("comp").as("__cc")),
            Seq("comp"), "left")
          .select(col("id"), coalesce(col("__cc"), col("comp")).as("comp"))
      val next = Materialize.eager(jumped, "Dedup.resolve.round")
      val s = labelSum(next)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      comp = next
      i += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"Dedup.resolve did not converge in $maxIter rounds — raise maxIter")
    finishResolution(
      comp.join(distinctIds(ids, idCol), Seq("id"), "left_semi"),
      comp.select("id"), ids, idCol)
  }

  /** One row per DISTINCT id (the contract both physical strategies must
    * share — duplicate id rows previously survived through the driver
    * join but collapsed in the distributed one, so the output shape
    * changed as the edge count crossed the gate). */
  private def distinctIds(ids: DataFrame, idCol: String): DataFrame =
    ids.select(col(idCol).as("id")).distinct()

  /** Shared tail of both [[resolve]] strategies: restrict the connected
    * labels to `ids`, re-anchor each cluster's representative within the
    * surviving universe (see the resolve scaladoc), and append
    * singletons. The anchor aggregate runs over CONNECTED rows only —
    * cluster membership is a small fraction of any corpus. */
  private def finishResolution(connected: DataFrame /* (id, comp) ⊆ ids */,
      pairNodes: DataFrame /* (id) */, ids: DataFrame, idCol: String): DataFrame = {
    val rep = connected.groupBy("comp").agg(min(col("id")).as("__rep"))
    val anchored = connected.join(rep, "comp")
      .select(col("id"), col("__rep").as("canonical"),
        (col("id") === col("__rep")).as("keep"))
    val singletons = distinctIds(ids, idCol)
      .join(pairNodes, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("canonical"), lit(true).as("keep"))
    anchored.union(singletons)
      .select(col("id").as(idCol), col("canonical"), col("keep"))
  }

  /** Apply a [[resolve]] keep-list: the purged corpus (one canonical
    * representative per duplicate cluster, all singletons). A single
    * semi-join — THE consumable end of every dedup family: pairs →
    * resolve → purge. */
  def purge(df: DataFrame, idCol: String, resolution: DataFrame): DataFrame =
    df.join(resolution.filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")

  /** Orderings for id types the driver fast path supports; anything else
    * falls through to the distributed propagation. Strings compare as
    * UTF-8 bytes (Spark's `least`/`min` semantics) — Java's UTF-16
    * compareTo disagrees around surrogate pairs, which would let the two
    * physical strategies pick different canonical representatives. */
  private[operators] def driverOrd(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
      })
      case _ => None
    }
  }

  /** Small-graph fast path of [[resolve]]: union-find with path
    * compression over the collected edge list, minimum member per root,
    * then one broadcast join stamps (canonical, keep) onto `ids` — no
    * iteration, no per-round shuffles. Exact same output contract. */
  private def resolveOnDriver(edges: DataFrame, ids: DataFrame, idCol: String,
      ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    val nodes = mutable.HashSet.empty[Any]
    edges.collect().foreach { row =>
      nodes += row.get(0); nodes += row.get(1)
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    val minOf = mutable.HashMap.empty[Any, Any]
    nodes.foreach { n =>
      val r = find(n)
      if (!minOf.contains(r) || ord.lt(n, minOf(r))) minOf(r) = n
    }
    val spark = edges.sparkSession
    val idField = ids.schema(idCol)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = "id"), idField.copy(name = "comp")))
    val labelRows: Seq[org.apache.spark.sql.Row] =
      nodes.toSeq.map(n => org.apache.spark.sql.Row(n, minOf(find(n))))
    import scala.jdk.CollectionConverters._
    val labels = spark.createDataFrame(labelRows.asJava, schema)
    finishResolution(
      distinctIds(ids, idCol).join(broadcast(labels), Seq("id"), "inner"),
      broadcast(labels.select("id")), ids, idCol)
  }

  // --------------------------------------------------- cosine near-dup

  /** Hard ceiling on [[cosineNearDups]]'s input (rows). 100k rows is
    * already ~5e9 pair evaluations — minutes of cluster time; anything
    * past that is a mis-dispatch (the caller wanted
    * [[cosineNearDupsLSH]]), not a bigger budget. */
  val MaxBruteCosineRows: Long = 100000L

  /** Brute-force embedding near-dup: all pairs with cosine ≥ threshold.
    * O(n²) reference implementation — the oracle for the LSH variant.
    *
    * Guarded like the other quadratic escapes ([[simhashNearDupPairs]]'s
    * `maxHamming`, the band divisibility checks): a cartesian product on a
    * billion-row table is never what the caller meant, so the gate probes
    * the input and refuses loudly past `maxRows`. The probe is
    * `limit(maxRows + 1)` + count, NOT a full count: it reads at most
    * maxRows + 1 rows however large the table is, so the gate itself
    * stays O(maxRows) on the billion-row mis-dispatch it exists to
    * reject. Callers that truly want a bigger exact run say so with
    * `maxRows`. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = MaxBruteCosineRows): DataFrame = {
    val over =
      if (maxRows >= Int.MaxValue) df.count() > maxRows // limit() takes an Int
      else df.select(col(idCol)).limit(maxRows.toInt + 1).count() > maxRows
    require(!over,
      s"cosineNearDups is O(n²) — input exceeds maxRows $maxRows; " +
        "use cosineNearDupsLSH for corpora this size, or raise maxRows explicitly")
    // floor the STREAM side: the n² cosine kernel otherwise inherits the
    // scan's partitioning (one footer at bench scale → one core does all
    // pair math, measured 3.3 s; guide §2.5). The broadcast side needs
    // no floor — it is replicated, not partitioned.
    val a = Par.floor(
      df.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(
        ScoreFunctions.cosineSimilarity(
          col("va").cast("array<float>"), col("vb").cast("array<float>")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Seeded random hyperplanes for cosine LSH (deterministic). */
  def hyperplanes(dim: Int, count: Int, seed: Long = 7L): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)(Array.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Sign-random-projection band keys: an array of `bands` (band, bucket)
    * structs, where each bucket packs r = planes/bands hyperplane sign
    * bits. Sign bits are scale-invariant, so no normalization is needed;
    * the dot products run through the codegen'd vector kernel. Shared by
    * [[cosineNearDupsLSH]] (pair mining) and the batch ANN LSH path
    * ([[graft.operators.Ann.lshMultiSearch]]). */
  def srpBandKeys(vecCol: Column, planes: Seq[Array[Float]], bands: Int): Column = {
    require(planes.nonEmpty && planes.size % bands == 0,
      s"planes ${planes.size} not divisible by bands $bands")
    val r = planes.size / bands
    val ks = (0 until bands).map { b =>
      val bucket = planes.slice(b * r, (b + 1) * r).zipWithIndex.map { case (p, i) =>
        when(ScoreFunctions.vectorMultiplication(
          vecCol.cast("array<float>"), lit(p)) >= 0, shiftleft(lit(1L), i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    array(ks: _*)
  }

  /** P(two vectors at cosine ≥ t agree on one random hyperplane's sign)
    * — the Goemans–Williamson angle bound: 1 − θ/π. */
  def srpAgreeProb(threshold: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi

  /** Auto-sized SRP-LSH parameters for an n-row corpus: bits per band r
    * chosen so one band's random collisions stay ~linear in n (expected
    * colliding pairs per band ≈ n²/2^(r+1) ≤ n ⇒ r ≈ log₂(n) − 1, for
    * isotropic data), then bands b from the recall target — a true pair
    * at cosine ≥ threshold agrees on a whole band with p^r, so b =
    * ⌈ln(1−recall)/ln(1−p^r)⌉. Round 5's scale rehearsal measured WHY
    * this must scale with n: fixed 8-bit bands that cost 0.5 s at 5k
    * vectors cost 52 s at 52.5k (collisions grow n²/2^r); auto-sizing
    * them to 15 bits restores ~linear behavior (BASELINE.md round 5).
    * Clamps keep tiny corpora from degenerate 1-bit bands and huge ones
    * from vanishing recall per band. */
  def srpAutoParams(n: Long, threshold: Double,
      targetRecall: Double = 0.9): (Int, Int) = {
    require(n > 0 && targetRecall > 0 && targetRecall < 1)
    val r = math.max(4, math.min(24,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2)).toInt - 1))
    val p = srpAgreeProb(threshold)
    val pBand = math.pow(p, r)
    val b =
      if (pBand >= 1.0) 1
      else math.max(1, math.min(32,
        math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pBand)).toInt))
    (r, b)
  }

  /** [[cosineNearDupsLSH]] with AUTO-sized bands: one bounded count
    * fixes n (skippable via `knownRows` for cataloged corpora),
    * [[srpAutoParams]] picks (bits, bands), seeded hyperplanes
    * are regenerated (data-independent). The choice is logged. Exact
    * duplicate pairs are found at ANY parameterization (identical
    * vectors share every sign); near-dup recall tracks `targetRecall`
    * in expectation and is spec-tested. */
  def cosineNearDupsLSHAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetRecall: Double = 0.9,
      seed: Long = 7L, knownRows: Long = -1L): DataFrame = {
    val n = if (knownRows >= 0) knownRows else df.count()
    require(n > 0, "empty corpus")
    val dim = df.select(size(col(vecCol))).head.getInt(0)
    val (r, b) = srpAutoParams(n, threshold, targetRecall)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"cosineNearDupsLSHAuto: n=$n dim=$dim -> $b bands x $r bits " +
        s"(agree-prob ${srpAgreeProb(threshold)} at threshold $threshold)")
    cosineNearDupsLSH(df, idCol, vecCol, threshold,
      hyperplanes(dim, count = r * b, seed), bands = b)
  }

  /** Scale path: b bands of r random-hyperplane sign bits, OR'd — a
    * candidate pair must agree on ALL r signs within ANY band (the same
    * band/bucket shape as [[minhashNearDups]]). Round-1's single band was
    * one 2^r-way partition of the data: recall decayed sharply near the
    * threshold and hot buckets stayed quadratic; banding multiplies recall
    * (miss = (1 - p^r)^b) while keeping every join an equi-join on a small
    * (band, bucket) key. Exact-cosine verify keeps precision 1; recall is
    * spec-tested. `planes.size` must be divisible by `bands`. */
  def cosineNearDupsLSH(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Seq[Array[Float]], bands: Int = 4): DataFrame = {
    // materialized once: each row carries bands×r hyperplane dot products
    // that the aliased self-join would otherwise recompute on BOTH sides
    // (the simhash twin measured exactly this); band keys have no sort
    // value, hence the same shuffle-hash hint as every other band join.
    // Par.floor first: the bands×r-dot kernel is the expensive map stage
    // and otherwise runs on the scan's one-footer partitioning (guide
    // §2.5; no-op on an already-parallel scan)
    val keyed = Materialize.eager(Par.floor(df, idCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(srpBandKeys(col(vecCol), planes, bands)).as("bk")),
      "Dedup.cosineNearDupsLSH.keyed")
    val cand = keyed.as("a").join(keyed.as("b").hint("shuffle_hash"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several bands
    cand
      .withColumn("cos", round(
        ScoreFunctions.cosineSimilarity(
          col("va").cast("array<float>"), col("vb").cast("array<float>")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
