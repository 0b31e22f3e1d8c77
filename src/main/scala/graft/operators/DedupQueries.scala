package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Deduplication operators for a webtext training-data pipeline over the
  * `documents` table: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB / 10^10 docs):
  *   - exact dedup is one hash-aggregate on the content hash — never a
  *     sort, never a pairwise compare;
  *   - the quadratic near-dup problem is always BLOCKED before any pair is
  *     materialized: shingle inverted-index join (n-gram Jaccard), banded
  *     signature buckets (MinHash-LSH), chunk pigeonhole buckets (SimHash
  *     hamming ≤ k). Within-bucket candidate pairs are then verified
  *     exactly. The all-pairs cross join never appears in any plan;
  *   - the per-row heavy lifting (shingling, minhash banding, simhash)
  *     runs in native codegen kernels ([[graft.functions.TextKernels]]);
  *     higher-order-function lambdas are NOT whole-stage-codegen'd
  *     (interpreted per-element eval — measured ~30× slower, see
  *     TextExpressions scaladoc) and are kept out of every hot path here.
  */
object DedupQueries {
  import CoreQueries.t

  /** Word 3-gram shingle set (lowercased) as an array column; empty for
    * docs shorter than n words. Backed by the codegen
    * [[graft.functions.WordShingles]] kernel — the equivalent
    * `split`/`transform`/`array_distinct` HOF pipeline is interpreted
    * per-element and measured ~30× slower (see TextExpressions scaladoc);
    * semantics (trim-spaces → lower → split \s+ → n-gram join →
    * first-occurrence distinct) are identical and mirrored in the q21
    * DuckDB oracle.
    */
  def shingles(text: Column, n: Int = 3): Column =
    ColumnBridge.column(graft.functions.WordShingles(
      ColumnBridge.expression(text), n))

  /** Exact dedup (hash-groupBy): duplicate groups keyed by full content,
    * deterministic representative = min doc_id. At scale the groupBy key
    * is xxhash64(text) (fixed-width shuffle key), with the full text only
    * compared inside each tiny hash bucket; here text is the key directly
    * so the DuckDB oracle can replicate it.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc"), col("n_copies"))
      .orderBy("keep_doc")

  /** Document-frequency cap for shingle blocking: a shingle present in
    * more than `DfCap` documents is boilerplate (template chrome, stop
    * phrases) and is dropped from the similarity universe BEFORE any pair
    * is generated. Without it a single hot shingle in p docs yields p²
    * join rows — the classic postings blowup that killed q21 at sf0.1
    * (22.9 s) and would be quadratic death at 10^10 docs. With it, the
    * pair count is bounded by Σ_shingle min(df, cap)²/2.
    */
  val DfCap = 64

  /** N-gram Jaccard near-dup pairs via a df-capped shingle inverted index:
    * explode shingles → TWO-PHASE df cap (count df per shingle first, then
    * anti-join the hot shingles away, then collect posting lists for
    * survivors only) → in-group pair generation with codegen'd explodes
    * (no self-join) → Jaccard from per-doc KEPT-shingle counts. Jaccard is
    * over the capped shingle universe (sizes count only surviving
    * shingles) so the measure is self-consistent; the DuckDB oracle
    * mirrors the cap. jaccard reported as integer percent for exact
    * oracle compare.
    *
    * Why two-phase: `collect_list` has no partial-aggregation escape — a
    * single boilerplate shingle ("all rights reserved") with df≈10^8 at
    * web scale would materialize its ENTIRE posting array inside one
    * aggregation buffer in one task (~800 MB → executor OOM) before a
    * post-hoc `size(ds) <= cap` filter could discard it. Phase 1 is a
    * plain `count` — partial-aggregable, so the hot shingle costs one long
    * per map partition, never a buffer. Phase 2's `collect_list` only ever
    * sees shingles with df ≤ [[DfCap]], so every posting buffer is ≤ cap
    * elements BY CONSTRUCTION and the Σ min(df,cap)²/2 pair bound is real.
    * (PlanSpec pins the anti-join sitting below the collect_list
    * aggregate; HotKeyDedupSpec pins the cap boundary semantics on
    * planted hot-shingle corpora.)
    *
    * Plan-shape note: Catalyst clones the scan→shingle→cap subtree under
    * each consumer (`pairs` and the two `sizes` joins) — exchange reuse
    * does not fire across these branches (collect_list is flagged
    * nondeterministic, which defeats canonical plan matching). The clones
    * are narrow map work that parallelizes linearly; measured warm cost
    * at sf0.1 is ~3.4 s. A "derive sizes from self-pairs (a,a) of the
    * same counted stream" restructure was measured WORSE (7.1 s — it
    * clones the whole pipeline three times instead, still zero reuse).
    * At 10^10 docs the two-phase shape is the right one regardless: the
    * hot anti-join is map-side (broadcast of the small hot set), so
    * boilerplate occurrences never transit ANY exchange, and a real
    * pipeline materializes the capped inverted index (`groups`) as a
    * table between phases, which removes the clones outright.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).orderBy("doc_a", "doc_b")

  // one live entry per (application, dir): the superseded version's
  // checkpoint blocks are unpersisted on replacement, so rewriting a
  // table N times in one session holds ONE pair set, not N
  private val pairsCache =
    scala.collection.concurrent.TrieMap[String, (String, DataFrame)]()

  /** The q21 pair set WITHOUT the presentation sort, MATERIALIZED once
    * per (session, table version) — q21 and q60 share one derivation
    * (the "persist the capped inverted index between pipeline stages"
    * production shape; in-session the materialization is a
    * localCheckpoint, at scale it is a parquet intermediate). The
    * checkpointed pair set is small by construction (Σ min(df, cap)²/2
    * bound), so holding it is bounded-metadata class, not data. Keyed on
    * the table-version fingerprint so a rewritten table re-derives, and
    * on the application id so a checkpoint never leaks across
    * SparkContexts. Plan pins live on [[jaccardPairsFresh]], the
    * derivation that actually runs (exactly once); the bench pays it up
    * front under its own `edge_derive_sec` key.
    */
  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.synchronized {
      val key = s"${s.sparkContext.applicationId}|$dir"
      val version = CoreQueries.tableVersion(dir, "documents")
      pairsCache.get(key) match {
        case Some((v, df)) if v == version => df
        case stale =>
          stale.foreach(_._2.unpersist(blocking = false))
          val df = jaccardPairsFresh(s, dir).localCheckpoint()
          pairsCache.put(key, (version, df))
          df
      }
    }

  /** The q21 derivation plan (un-memoized) — see [[ngramJaccard]] for the
    * algorithm and [[jaccardPairs]] for the materialization discipline.
    */
  private[operators] def jaccardPairsFresh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    // phase 1: df per shingle — partial-aggregable count, no arrays.
    // (WordShingles emits first-occurrence-distinct shingles per doc, so
    // count(*) == count of distinct docs.)
    val hot = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap)
      .select("shingle")
    // phase 2: posting lists for surviving shingles only — every
    // collect_list buffer is ≤ DfCap elements by construction
    val groups = inv.join(hot, Seq("shingle"), "left_anti")
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    // per-doc size over the KEPT universe
    val sizes = groups.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // all (i < j) pairs inside each posting list: two codegen'd explodes
    // + a filter, never a join (and never an interpreted lambda — nested
    // transform/slice HOFs evaluate per-element outside codegen)
    val pairs = groups.filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val inter = pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    // NO broadcast hint on `sizes`: it is one row per document — forcing
    // a broadcast of an O(corpus) table is a scale-killer at 10^10 docs.
    // AQE still picks a broadcast join at small scale on its own.
    inter
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .withColumn("jaccard_pct",
        floor(col("inter") * 100 / (col("sz_a") + col("sz_b") - col("inter")))
          .cast("long"))
      .filter(col("jaccard_pct") >= 15)
      .select("doc_a", "doc_b", "jaccard_pct")
  }

  /** Ordered, non-distinct word n-grams (positional — element i is the
    * gram at token position i), backed by the codegen
    * [[graft.functions.WordGrams]] kernel.
    */
  def wordGrams(text: Column, n: Int): Column =
    ColumnBridge.column(graft.functions.WordGrams(
      ColumnBridge.expression(text), n))

  /** Span window for cross-document duplicated-span coverage. */
  val SpanN = 8

  /** Cross-document duplicated-span coverage — the postings-list
    * approximation of exact substring dedup (Lee et al. 2022's
    * dedup-training-data operator, token-window form): a position is
    * "covered" when some [[SpanN]]-token window starting at or over it
    * occurs in ≥ 2 distinct documents. Per doc: covered position count
    * and integer coverage percent.
    *
    * Scale shape: the duplicated flag is `min(doc_id) ≠ max(doc_id)` per
    * gram (exactly "≥ 2 distinct docs", no collect), computed as a
    * TWO-PHASE aggregate + semi-join-back rather than a window: min/max
    * partial-aggregate BEFORE the shuffle, so the hottest boilerplate
    * gram moves one row per map partition into the agg — where the window
    * formulation this replaced shuffled EVERY occurrence of the hot gram
    * into one task and sorted it there (a 10^8-row single-task straggler
    * at web scale, with no mitigation: AQE cannot split a window
    * partition). The join-back is a semi-join the optimizer is free to
    * broadcast (small dup set) or sort-merge — and a skewed hot-gram join
    * partition IS splittable by AQE skew-join handling, unlike the
    * window. The gram kernel feeds both sides as a pure narrow map; the
    * full-volume gram shuffle happens once (the join left), the agg side
    * shuffles only post-partial rows. No pair generation anywhere, unlike
    * the q21 postings join, so no df cap is needed; coverage is explode +
    * distinct + count. At 10^10 docs you'd key the shuffle on
    * xxhash64(gram) instead of the gram text (fixed-width keys; collisions
    * only ever ADD coverage at ~2⁻⁶⁴ rates) — the string key here is what
    * the DuckDB oracle can replicate exactly.
    */
  def dupSpanCoverage(s: SparkSession, dir: String): DataFrame =
    spanCoverage(t(s, dir, "documents")).orderBy("doc_id")

  /** Distinct covered token positions per doc — the (doc_id, q) set under
    * the q31 rule (some [[SpanN]]-window over position q occurs in ≥ 2
    * distinct docs). ONE definition shared by the q31 coverage counts and
    * the q61 scrub, so the two can never disagree about what "covered"
    * means.
    */
  private def coveredPositions(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), posexplode(wordGrams(col("text"), SpanN))
        .as(Seq("p", "g")))
    // two-phase dup flag (see scaladoc): partial-aggregable min/max per
    // gram, then a semi-join back — never a window over the gram key
    val dupGrams = grams.groupBy("g")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("g")
    grams
      .join(dupGrams, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanN - 1))).as("q"))
      .distinct()
  }

  /** [[dupSpanCoverage]] over an explicit `(doc_id, text)` frame,
    * unsorted — shared with [[TextQueries.corpusFunnel]].
    */
  private[operators] def spanCoverage(docs: DataFrame): DataFrame = {
    val covered = coveredPositions(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .withColumn("coverage_pct",
        floor(col("covered") * 100 / col("n_tokens")).cast("long"))
      .select("doc_id", "n_tokens", "covered", "coverage_pct")
  }

  /** Duplicated-span SCRUB — the transform twin of [[dupSpanCoverage]]:
    * where q31 measures cross-document duplicated spans, q61 REMOVES them
    * (Lee et al. 2022 drop the duplicated substring, not the document).
    * Every token at a covered position is deleted and the survivors are
    * rejoined with single spaces — so the output text is token-normalized
    * (runs of whitespace collapse), which is the standard contract of a
    * token-level scrubber. Case is preserved: dup detection runs on the
    * lowercased gram stream (the q31 rule, via the shared
    * [[coveredPositions]]) while positions index the original token
    * sequence — split boundaries are identical, so the deletion is exact.
    *
    * Scale shape: everything up to the anti-join is the q31 plan (narrow
    * gram map, partial-aggregated dup flag, semi-join, distinct); the
    * anti-join is an equi-join on (doc_id, position); the only per-doc
    * array materialized is the SURVIVING token list of that one document
    * (bounded by doc length, the same bound the raw `text` column already
    * imposes on a row). The final ordered reassembly
    * (sort_array + transform over the per-doc struct array) is
    * presentation-layer work on one doc's tokens, not a corpus-wide HOF
    * hot path.
    */
  def dupSpanScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(trim(col("text")), "\\s+")).as(Seq("p", "tok")))
    val cov = coveredPositions(docs)
      .withColumnRenamed("q", "p")
    val kept = toks.join(cov, Seq("doc_id", "p"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("kept_tokens"),
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok"))).as("scrubbed_text"))
    docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
      .orderBy("doc_id")
  }

  val MinhashK = 32 // signature length
  val LshBands = 8 // bands of 4 rows each

  /** Per-band LSH hashes of the k-slot minhash signature, computed in ONE
    * pass by the codegen [[graft.functions.MinhashBands]] kernel. The
    * equivalent `transform(sequence..., array_min(transform(...)))` HOF
    * pipeline evaluated interpreted AND was re-inlined by projection
    * collapse into every band lambda — 88 s for 5 000 docs vs sub-second
    * here; at 10^10 docs the HOF version is simply not runnable.
    */
  def minhashBandHashes(sh: Column, k: Int = MinhashK,
      bands: Int = LshBands): Column =
    ColumnBridge.column(graft.functions.MinhashBands(
      ColumnBridge.expression(sh), k, bands))

  /** Bucket-size cap for the LSH band join and the SimHash chunk join —
    * the [[DfCap]] discipline applied to candidate-generation buckets. A
    * band/chunk bucket with more than `BucketCap` members is, on a real
    * web corpus, a clump of byte-identical or boilerplate documents
    * (identical docs share ALL band hashes), and joining it with itself
    * yields p² candidate rows in ONE join bucket — the hot-key blowup
    * that makes an uncapped LSH self-join unrunnable at 10^10 docs.
    * Buckets over the cap are dropped BEFORE the self-join (two-phase:
    * partial-aggregable count, then anti-join — no bucket array is ever
    * materialized); exact duplicates that a hot bucket would have paired
    * are the job of the q20 exact-dedup pre-stage, which is how the
    * production pipeline orders these operators anyway (exact dedup →
    * near-dup). The DuckDB oracles mirror the cap.
    */
  val BucketCap = 64

  /** MinHash+LSH near-dup candidates, verified: shingle → signature →
    * banded buckets (band hash of r consecutive signature slots) →
    * same-bucket candidate pairs (buckets over [[BucketCap]] dropped
    * two-phase, so no hot bucket ever self-joins) → exact Jaccard
    * verification on the candidates only. This is THE near-dup scale
    * path: cost is O(docs × bands) + O(Σ min(bucket, cap)² pairs), not
    * O(docs²).
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    // The banded join carries DOC IDS ONLY: the shingle arrays would
    // otherwise ride through all `LshBands` copies of every row AND the
    // dropDuplicates shuffle — ×(bands · set size) shuffle bytes. Ids are
    // banded, deduped, then joined back to `docs` once per side for the
    // exact verify (the candidate set is ≪ the corpus, so the join-back
    // moves only the candidates' shingles).
    val banded = docs.select(col("doc_id"),
      posexplode(minhashBandHashes(col("sh"))).as(Seq("band", "band_hash")))
    // two-phase bucket cap: count (partial-aggregable) → anti-join; the
    // same exchange the self-join needs, so the cap rides for free
    val hotBuckets = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > BucketCap)
      .select("band", "band_hash")
    // explicit re-select: a using-columns join moves the keys to the
    // front, which would silently mislabel the positional toDF renames
    val kept = banded.join(hotBuckets, Seq("band", "band_hash"), "left_anti")
      .select("doc_id", "band", "band_hash")
    val cands = kept.toDF("doc_a", "band", "band_hash")
      .join(kept.toDF("doc_b", "band", "band_hash"), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(docs.toDF("doc_a", "sh_a"), "doc_a")
      .join(docs.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard_pct",
        floor(col("inter") * 100 /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter"))).cast("long"))
      .filter(col("jaccard_pct") >= 50)
      .select("doc_a", "doc_b", "jaccard_pct")
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash: per bit, vote by the sign sum over token hashes.
    * Retained as the reference implementation the codegen
    * [[graft.functions.SimHash64]] expression is spec-pinned against
    * (identical outputs, TextExpressionsSpec); queries use the expression.
    */
  val simhashUdf = udf { (text: String) =>
    val votes = new Array[Int](64)
    if (text != null) {
      val toks = text.trim.toLowerCase.split("\\s+")
      var t = 0
      while (t < toks.length) {
        val bytes = org.apache.spark.unsafe.types.UTF8String
          .fromString(toks(t))
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(bytes.getBaseObject, bytes.getBaseOffset,
            bytes.numBytes, 42L)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
        t += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Codegen-expression SimHash (identical output to [[simhashUdf]]). */
  def simhashCol(text: Column): Column =
    ColumnBridge.column(graft.functions.SimHash64(
      ColumnBridge.expression(text)))

  /** SimHash near-dup pairs with hamming distance ≤ 3, blocked by the
    * default 4×16-bit chunk pigeonhole: two hashes within hamming 3 must
    * agree on at least one of four 16-bit chunks, so candidates come from
    * equi-joins on chunks — never an all-pairs scan. Chunk buckets over
    * [[BucketCap]] are dropped two-phase before the self-join (identical
    * docs share all four chunks → one uncapped bucket is p² pairs; exact
    * dups belong to the q20 pre-stage). Scale note: 16-bit chunks give
    * only 2^16 buckets per chunk index, so at 10^10 docs EVERY bucket is
    * hot by chance alone and the capped operator returns nothing — there
    * you widen the pigeonhole via [[simhashPairsWith]]'s parameters
    * (e.g. `pairKeys = true` joins on 2^32-value chunk PAIRS, or 6×10-bit
    * pair keys at 2^20 per pair index), which changes only the key
    * arity, not the plan shape. HotKeyDedupSpec proves the saturation
    * boundary at test scale: a bucket space too small for the corpus
    * drops a planted pair that the widened scheme keeps.
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsWith(t(s, dir, "documents"))

  /** The parameterized pigeonhole behind [[simhashPairs]] (defaults are
    * the q23 contract, bit-identical to the fixed 4×16 scheme).
    *
    * Guarantee: with `nChunks` disjoint chunks, ≤ `maxHamming` differing
    * bits touch ≤ `maxHamming` chunks, so a true pair agrees on at least
    * `nChunks − maxHamming` chunks — ≥ 1 single-chunk key when
    * `maxHamming < nChunks`, and ≥ 1 chunk-PAIR key when
    * `maxHamming ≤ nChunks − 2` (`pairKeys = true`). Bits above
    * `nChunks × chunkBits` are simply uncovered: differences there can
    * only reduce within-chunk differences, so the guarantee is
    * unaffected. Pair keys multiply the bucket space from `2^chunkBits`
    * to `2^(2·chunkBits)` per key index at a candidate-generation cost of
    * C(nChunks, 2) vs nChunks explode rows — the knob that keeps bucket
    * occupancy below `cap` as the corpus grows 10^4×.
    */
  def simhashPairsWith(docs0: DataFrame, nChunks: Int = 4,
      chunkBits: Int = 16, pairKeys: Boolean = false, maxHamming: Int = 3,
      cap: Long = BucketCap): DataFrame = {
    require(nChunks * chunkBits <= 64, "chunks must fit the 64-bit hash")
    require(
      if (pairKeys) maxHamming <= nChunks - 2 else maxHamming < nChunks,
      s"pigeonhole broken: $nChunks chunks (pairKeys=$pairKeys) cannot " +
        s"guarantee hamming<=$maxHamming")
    val mask = (1L << chunkBits) - 1L
    def chunkAt(c: Int): Column =
      shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))
    val keyCols: Seq[Column] =
      if (!pairKeys) (0 until nChunks).map(chunkAt)
      else for { i <- 0 until nChunks; j <- (i + 1) until nChunks }
        yield shiftleft(chunkAt(i), chunkBits).bitwiseOR(chunkAt(j))
    val docs = docs0
      .select(col("doc_id"), simhashCol(col("text")).as("simhash"))
    val chunked = docs.select(col("doc_id"), col("simhash"),
      posexplode(array(keyCols: _*)).as(Seq("chunk_idx", "chunk")))
    val hotChunks = chunked.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select("chunk_idx", "chunk")
    val kept = chunked.join(hotChunks, Seq("chunk_idx", "chunk"), "left_anti")
      .select("doc_id", "simhash", "chunk_idx", "chunk")
    val a = kept.toDF("doc_a", "sim_a", "chunk_idx", "chunk")
    val b = kept.toDF("doc_b", "sim_b", "chunk_idx", "chunk")
    val hamming = {
      val x = col("sim_a").bitwiseXOR(col("sim_b"))
      bit_count(x)
    }
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark slice for [[decontaminate]]: doc_id ≡ 0 (mod 20) — a
    * deterministic in-corpus stand-in for the eval-benchmark table a
    * production decontamination run joins against (external benchmark
    * data is out of bounds in this sandbox; swapping the slice for a real
    * benchmark table changes one input, not the plan).
    */
  val DecontamBenchMod = 20L

  /** Collision window: 13 tokens — the GPT-3/PaLM decontamination
    * standard (Brown et al. 2020 appendix C use 13-gram overlap).
    */
  val DecontamN = 13

  /** Benchmark decontamination (the GPT-3 appendix-C operator): flag
    * every training document that shares ANY [[DecontamN]]-token shingle
    * with a benchmark document. Output per doc: shingle count, benchmark
    * membership, number of distinct colliding shingles, and the
    * contaminated flag (non-benchmark doc with ≥ 1 collision).
    *
    * Scale shape: the benchmark shingle set is tiny next to the corpus
    * (eval suites are ~10⁵ docs vs 10¹⁰), so the collision join is a
    * broadcast semi-shape equi-join on the shingle string (AQE picks
    * broadcast; at worst it's a shuffle join keyed by shingle) and the
    * flag is a partial-aggregable count — no pair generation, no window.
    * Docs shorter than [[DecontamN]] tokens have no shingle and are clean
    * by definition (same as the reference implementations).
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    decontamScored(s, dir).orderBy("doc_id")

  /** [[decontaminate]] without the presentation sort — shared with the
    * q63 pipeline. In-sandbox wiring of [[decontaminateWith]]: the
    * benchmark is the [[DecontamBenchMod]] slice of the corpus itself,
    * so grams AND membership both come from the mod rule.
    */
  private[operators] def decontamScored(s: SparkSession,
      dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val isBench = col("doc_id") % DecontamBenchMod === 0
    val benchGrams = docs.filter(isBench)
      .select(explode(shingles(col("text"), DecontamN)).as("g")).distinct()
    decontaminateWith(docs, benchGrams, isBench)
  }

  /** The q59 operator against an EXTERNAL benchmark: `benchGrams` is any
    * (g: string) table of distinct benchmark [[DecontamN]]-gram shingles
    * (the eval suites a production run guards), and `isBenchmark` is the
    * matching membership predicate over the scored docs — the two MUST
    * travel together (with a real external benchmark the predicate is
    * `lit(false)` unless benchmark docs also flow through the corpus;
    * leaving the in-sandbox mod rule in place would silently exempt
    * every 20th doc from a benchmark it is not part of — the same
    * contract as [[graft.streaming.StreamOps.streamingContaminationAlerts]]).
    */
  def decontaminateWith(docs: DataFrame, benchGrams: DataFrame,
      isBenchmark: Column): DataFrame = {
    val sh = docs.select(col("doc_id"),
      shingles(col("text"), DecontamN).as("sh"),
      isBenchmark.cast("long").as("is_benchmark"))
    val hits = sh.filter(col("is_benchmark") === 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(benchGrams, "g") // shingles are per-doc distinct → count = hits
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    sh
      .select(col("doc_id"),
        coalesce(size(col("sh")), lit(0)).cast("long").as("n_shingles"),
        col("is_benchmark"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("contaminated",
        (col("is_benchmark") === 0 && col("hits") > 0).cast("long"))
  }

  /** Duplicate-cluster assignment: connected components over the
    * [[ngramJaccard]] near-dup pair graph, every document labeled with
    * the minimum doc_id of its component (the canonical representative a
    * dedup pass keeps — "keep one per duplicate CLUSTER" rather than
    * q04/q20's per-key keep-first). Deterministic: the labels are the
    * component minima whatever the order, and the edge set is the
    * hash-green q21 output.
    *
    * Scale shape: [[starLabels]] — alternating large-star/small-star
    * rounds, each a few partial-aggregable mins and equi-joins over the
    * current edge set, O(log n) rounds whatever a component's diameter
    * (a chain of near-duplicates is as cheap as a clique). The driver
    * sees one bounded answer per round (the stop test, the same
    * bounded-metadata class as the crawl loop's wave counts — never
    * data). Per-round lineage is truncated through `localCheckpoint`
    * (the crawl loop's discipline) so the plan does not grow with
    * rounds.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val edges = jaccardPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val labels = starLabels(docs, edges)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster"), col("cluster_size"),
        (col("doc_id") === col("lbl")).cast("long").as("is_representative"))
      .orderBy("doc_id")
  }

  /** Round cap for [[starLabels]]: alternating large-star/small-star
    * converges in O(log² n) rounds (O(log n) in practice: 6 for a 41-node
    * chain); 30 is beyond any input that fits on hardware. Convergence
    * is asserted, not assumed.
    */
  val MaxStarIters = 30

  /** Large-star: per node u with m = min(Γ(u) ∪ {u}), rewire every
    * LARGER neighbor v > u to m. Edges are canonical (lo < hi) pairs;
    * m ≤ u < v keeps the output canonical for free. The output may hold
    * duplicates; [[smallStar]]'s mins ignore them and its `distinct`
    * drops them.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("lo").as("src"), col("hi").as("dst"))
      .union(e.select(col("hi").as("src"), col("lo").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(least(col("mn"), col("src")).as("lo"), col("dst").as("hi"))
  }

  /** Small-star: group canonical edges by their LARGER endpoint u with
    * m = min of u's smaller neighbors; rewire u and every smaller
    * neighbor to m.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("hi").agg(min("lo").as("mn"))
    val relink = e.join(mins, "hi")
      .filter(col("lo") =!= col("mn"))
      .select(col("mn").as("lo"), col("lo").as("hi"))
    val self = mins.select(col("mn").as("lo"), col("hi"))
    relink.union(self).distinct()
  }

  /** Whether the distinct canonical edges `e` form a star forest: no
    * `hi` has two `lo`s and no node is both a `lo` and a `hi`. Then each
    * component is one star whose center, its `lo`, is the component
    * minimum — a fixpoint of both star operations. One job: the nodes
    * that break either rule, probed for emptiness.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("hi").as("n"), lit(1).as("as_hi"), lit(0).as("as_lo"))
      .union(
        e.select(col("lo").as("n"), lit(0).as("as_hi"), lit(1).as("as_lo")))
      .groupBy("n").agg(sum("as_hi").as("his"), max("as_lo").as("is_lo"))
      .filter(col("his") > 1 || (col("his") > 0 && col("is_lo") > 0))
      .isEmpty

  /** Connected-component labels via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — each round is two groupBy-min + join rounds over the
    * CURRENT edge set (which only shrinks toward stars), converging in
    * O(log n) practical rounds REGARDLESS of component diameter. A round
    * is step, checkpoint, stop once the edges are a star forest
    * ([[isStarForest]]): every node is then adjacent to its component
    * min, so labels read off the star edges, and isolated nodes label
    * themselves. An empty edge set is a star forest, so an edgeless
    * table stops after one round over nothing.
    */
  private[operators] def starLabels(docs: DataFrame,
      edges: DataFrame): DataFrame = {
    // duplicates may stay: the first round's smallStar drops them
    var e = edges
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi"))
    var iter = 0
    var stable = false
    while (!stable && iter < MaxStarIters) {
      e = smallStar(largeStar(e)).localCheckpoint()
      stable = isStarForest(e)
      iter += 1
    }
    require(stable, s"star rounds did not converge in $iter rounds")
    // a star forest gives each hi exactly one lo: its label
    val fin = e.select(col("hi").as("doc_id"), col("lo").as("lbl"))
    docs.join(fin, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
  }

  /** Dump the Spark-computed hash-kernel outputs (minhash band hashes,
    * simhashes, xxhash64 content hashes) as parquet under `out` so the
    * q19/q22/q23 DuckDB oracles can independently recompute everything
    * DOWNSTREAM of the hash kernels — banding self-join with the
    * [[BucketCap]], pair dedup, chunk pigeonhole, hamming distance, and
    * the exact-Jaccard verify over shingles DuckDB re-derives from raw
    * `documents.text` itself. The kernels' own per-value semantics are
    * UDF-twin spec-pinned (TextExpressionsSpec); xxhash64/minhash have no
    * DuckDB twin, which is why the dump boundary sits exactly at the hash
    * values.
    */
  def dumpForOracle(s: SparkSession, dir: String, out: String): Unit = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    docs.select(col("doc_id"),
      posexplode(minhashBandHashes(col("sh"))).as(Seq("band", "band_hash")))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/lsh_bands")
    t(s, dir, "documents")
      .select(col("doc_id"), simhashCol(col("text")).as("simhash"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/simhash")
    t(s, dir, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("content_hash"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/fingerprints")
  }
}
