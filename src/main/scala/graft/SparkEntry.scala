package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CoreQueries, CrawlPipelines, DedupQueries,
  MultimodalQueries, SimilarityQueries, TextQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator claimed in SURVEY.md §2 has one [[SparkEntry.registry]]
  * entry carrying its DuckDB oracle (same column names, same
  * deterministic ORDER BY). Kernels with no DuckDB twin (crawl loop,
  * sketches, xxhash-based fingerprints) are checked over Spark-dumped
  * intermediate tables here, with full semantic coverage in the
  * ScalaTest suites.
  */
object SparkEntry {

  /** Flagship: the full crawl pipeline (§3.1) on the deterministic
    * synthetic web — frontier → politeness waves → fetch-join → extract →
    * records in crawl order. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    CrawlPipelines.flagship(spark, "/root/testdata/sf0.001")

  /** One registered driver query: how Spark builds it from `sfDir`, the
    * DuckDB SQL that checks it (Verify writes it to `oracle_sql.json`),
    * and Bench's phase-1 sanity ceiling in seconds.
    */
  final case class Query(name: String,
      build: (SparkSession, String) => DataFrame, oracle: String,
      ceilingSec: Double = 2.0)

  /** Stands in the oracle SQL for the directory of side tables (crawl
    * tables, hash-kernel outputs) that Verify dumps next to its output;
    * Verify writes `oracle_sql.json` with the real path in its place.
    */
  val OracleTables = "{oracle_tables}"

  /** The registry as a name → build map, in registry order. */
  lazy val queries: ListMap[String, (SparkSession, String) => DataFrame] =
    ListMap(registry.map(q => q.name -> q.build): _*)

  /** q26 oracle: the RHP lane-sign table inlined as SQL literals — the
    * signs are ALGORITHM CONSTANTS (derived once from the xxhash64 bit
    * mix, like q51's centroid rationals), generated here from the same
    * [[graft.functions.VecKernels.laneSign]] the engine executes so the
    * two can never drift. DuckDB then recomputes signature, hamming-1
    * multiprobe, and exact rerank fully independently.
    */
  private def q26LanesValues: String = (0 until 8).map { j =>
    val signs = (0 until 64).map(i =>
      if (graft.functions.VecKernels.laneSign(j, i) > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")
    s"($j, $signs)"
  }.mkString(", ")

  /** Valid-vector corpus scan for the ANN/near-dup oracles: Spark's
    * vector kernels return NULL for ragged/null-element vectors (the
    * row then sorts last / fails every threshold and never enters a
    * top-k or pair set), while DuckDB's `list_sum` SKIPS null lanes and
    * would hand the same vector a real score — so every oracle scan
    * that feeds a score into a candidate set reads this CTE instead of
    * raw `embeddings`. Latent with the all-valid testdata; keeps the
    * mirrors honest on any table.
    */
  private val vembCte: String =
    """vemb AS (
      |  SELECT * FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64
      |    AND len(list_filter(embedding, x -> isfinite(x))) = 64
        |    AND list_sum(list_transform(embedding, x -> x*x)) > 0)"""
      .stripMargin

  /** floor(10⁴·cosine) of 64-lane list exprs `e`, `c` — the index-order
    * list fold every cosine oracle uses. Both sides are lane-cast to
    * DOUBLE (a no-op for DOUBLE lists, and it keeps REAL-typed parquet
    * lanes from folding in float precision).
    */
  private def ce4Sql(e: String, c: String): String =
    s"""CAST(floor(list_sum(list_transform(range(1,65),
       |      i -> $e[i]::DOUBLE * $c[i]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(range(1,65),
       |      i -> $e[i]::DOUBLE * $e[i]::DOUBLE))) *
       |     sqrt(list_sum(list_transform(range(1,65),
       |      i -> $c[i]::DOUBLE * $c[i]::DOUBLE)))) * 10000) AS BIGINT)"""
      .stripMargin

  /** DuckDB re-derivation of the [[graft.operators.Codebooks]] IVF
    * training — the oracle trusts NOTHING from the Spark side: it runs
    * the same fixed-iteration Lloyd from the same exact-rational init
    * over the same raw table. Bit-identical by construction: assignment
    * is the discretized-cosine argmax (row_number mirrors the
    * smallest-j tiebreak), the update sums floor(lane·2²⁰) BIGINTs
    * (exact, order-independent) and rounds the mean through REAL, and
    * empty cells keep their previous centroid (the coalesce). Emits
    * cents0..cents{iters} plus the FINAL assignment `asnF` (all
    * vec_ids, trained centroids) and its score table `cosF`.
    */
  private def ivfLloydCtes: String = {
    val k = graft.operators.Codebooks.IvfCells
    val iters = graft.operators.Codebooks.IvfIters
    // voting set mirror: Spark's trainIvf excludes ragged/null-element
    // vectors from voting via cosE4(v,v).isNotNull; DuckDB's list_sum
    // SKIPS null lanes (it would let an invalid vector vote), so the
    // oracle needs the explicit validity predicate. Latent with the
    // all-valid testdata, required for the mirror to hold on any table.
    val init =
      s"""embv AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = 64
         |    AND len(list_filter(embedding, x -> isfinite(x))) = 64
        |    AND list_sum(list_transform(embedding, x -> x*x)) > 0),
         |cents0 AS (
         |  SELECT j, list_transform(range(0, 64),
         |    i -> (((j*64+i)*2654435761) % 2003 - 1001) / 1024.0) AS c
         |  FROM generate_series(0, ${k - 1}) t(j))""".stripMargin
    val steps = (0 until iters).map { n =>
      s"""cos$n AS (
         |  SELECT e.vec_id, t.j, ${ce4Sql("e.embedding", "t.c")} AS ce4
         |  FROM embv e, cents$n t),
         |asn$n AS (
         |  SELECT vec_id, j AS cell FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY ce4 DESC, j) rn
         |    FROM cos$n) WHERE rn = 1),
         |sums$n AS (
         |  SELECT a.cell AS j, li.i,
         |    SUM(CAST(floor(e.embedding[li.i+1]::DOUBLE * 1048576.0)
         |      AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM embv e JOIN asn$n a USING (vec_id),
         |    generate_series(0, 63) li(i)
         |  GROUP BY 1, 2),
         |cents${n + 1} AS (
         |  SELECT g.j, list(coalesce(
         |      CAST(CAST(s.s / (s.n * 1048576.0) AS REAL) AS DOUBLE),
         |      p.c[g.i+1]) ORDER BY g.i) AS c
         |  FROM (SELECT j, i FROM generate_series(0, ${k - 1}) a(j),
         |        generate_series(0, 63) b(i)) g
         |  JOIN cents$n p ON p.j = g.j
         |  LEFT JOIN sums$n s ON s.j = g.j AND s.i = g.i
         |  GROUP BY g.j)""".stripMargin
    }
    // cosF/asnF over embv too: Spark's kernels null the score of an
    // invalid vector (it sorts last and never enters a top-k), while
    // DuckDB's null-skipping list_sum would hand it a REAL score and a
    // cell — restricting the oracle's candidate universe to valid
    // vectors mirrors the kernel-side exclusion (q52's full-output
    // LEFT JOIN re-attaches invalid rows with Spark's deterministic
    // all-null-sort cell 0)
    val fin =
      s"""cosF AS (
         |  SELECT e.vec_id, t.j, ${ce4Sql("e.embedding", "t.c")} AS ce4
         |  FROM embv e, cents$iters t),
         |asnF AS (
         |  SELECT vec_id, j AS cell FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY ce4 DESC, j) rn
         |    FROM cosF) WHERE rn = 1)""".stripMargin
    (init +: steps :+ fin).mkString(",\n")
  }

  /** DuckDB re-derivation of the PQ codebook training (see
    * [[ivfLloydCtes]] — same determinism argument, argmin-L2² assignment
    * per 4-dim subvector with the smallest-k tiebreak). Emits
    * pcents0..pcents{iters} plus the FINAL corpus encode `pasnF`.
    */
  private def pqLloydCtes: String = {
    val iters = graft.operators.Codebooks.PqIters
    // voting-set mirror, as in [[ivfLloydCtes]]: Spark's trainPq excludes
    // invalid vectors via `codes.isNotNull`; the oracle needs the same
    // validity predicate or list_sum's null-skipping would let them vote.
    val init =
      """embvp AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64
        |    AND len(list_filter(embedding, x -> isfinite(x))) = 64
        |    AND list_sum(list_transform(embedding, x -> x*x)) > 0),
        |pcents0 AS (
        |  SELECT s, k, list_transform(range(0, 4),
        |    i -> (((s*128 + k*8 + i)*2654435761) % 2003 - 1001) / 1024.0)
        |    AS c
        |  FROM generate_series(0, 15) t1(s), generate_series(0, 15) t2(k))"""
        .stripMargin
    def dist(src: String, name: String, corpusOnly: Boolean,
        table: String = "embvp") =
      s"""$name AS (
         |  SELECT e.vec_id, t.s, t.k,
         |    list_sum(list_transform(range(1, 5),
         |      i -> (e.embedding[(t.s*4)+i]::DOUBLE - t.c[i]) *
         |           (e.embedding[(t.s*4)+i]::DOUBLE - t.c[i]))) AS d
         |  FROM $table e, $src t${if (corpusOnly) " WHERE e.vec_id <> 0"
      else ""})""".stripMargin
    def asn(src: String, name: String) =
      s"""$name AS (
         |  SELECT vec_id, s, k FROM (
         |    SELECT vec_id, s, k,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) rn
         |    FROM $src) WHERE rn = 1)""".stripMargin
    val steps = (0 until iters).map { n =>
      Seq(dist(s"pcents$n", s"pdist$n", corpusOnly = false),
        asn(s"pdist$n", s"pasn$n"),
        s"""psums$n AS (
           |  SELECT a.s, a.k, li.i,
           |    SUM(CAST(floor(e.embedding[a.s*4+li.i+1]::DOUBLE * 1048576.0)
           |      AS BIGINT)) AS sm,
           |    COUNT(*) AS n
           |  FROM embvp e JOIN pasn$n a USING (vec_id),
           |    generate_series(0, 3) li(i)
           |  GROUP BY 1, 2, 3),
           |pcents${n + 1} AS (
           |  SELECT g.s, g.k, list(coalesce(
           |      CAST(CAST(ps.sm / (ps.n * 1048576.0) AS REAL) AS DOUBLE),
           |      p.c[g.i+1]) ORDER BY g.i) AS c
           |  FROM (SELECT a.s, b.k, cc.i FROM generate_series(0, 15) a(s),
           |        generate_series(0, 15) b(k),
           |        generate_series(0, 3) cc(i)) g
           |  JOIN pcents$n p ON p.s = g.s AND p.k = g.k
           |  LEFT JOIN psums$n ps ON ps.s = g.s AND ps.k = g.k
           |    AND ps.i = g.i
           |  GROUP BY g.s, g.k)""".stripMargin).mkString(",\n")
    }
    // final encode over embvp as well: Spark's PqCodes nulls invalid
    // vectors (null ADC sorts last, never reaching the rerank) — the
    // oracle mirrors by excluding them from the candidate universe
    val fin = Seq(
      dist(s"pcents$iters", "pdistF", corpusOnly = true),
      asn("pdistF", "pasnF")).mkString(",\n")
    (init +: steps :+ fin).mkString(",\n")
  }

  /** Java's `\s` spelled as an explicit RE2 class: RE2 (DuckDB) `\s` is
    * `[\t\n\f\r ]` — it LACKS vertical tab \x0B, which Java's `\s`
    * includes, so `'a\x0Bb'` is two tokens to every Spark tokenizer
    * (kernels and the split() builtin alike) but ONE to a DuckDB `\s+`
    * split. Every tokenizing oracle regex uses this class (Java's \s
    * definition is frozen, so the literal copies in the plain-string
    * oracle fragments cannot drift).
    */
  private val JavaWs = "[ \\t\\n\\x0B\\f\\r]"

  /** Java non-whitespace (`\S`) as the matching negated class. */
  private val JavaNonWs = "[^ \\t\\n\\x0B\\f\\r]"

  /** DuckDB mirror of the kernel tokenizer's `Java split("\\s+")` over
    * the space-trimmed lowered string (TextKernels.words). Java's split
    * REMOVES all trailing empty tokens (so text ending in tab/newline
    * whitespace yields none, and an all-whitespace string yields zero
    * tokens) but KEEPS a leading empty when the string starts with
    * non-space whitespace, and returns one empty token for the empty
    * string — while DuckDB's regexp_split_to_array keeps every empty.
    * The closed form: '' → ['']; no \\S content → []; leading-\\s →
    * prepend '' to the \\S+ extraction; else the \\S+ extraction.
    * Divergent only for texts with tab/newline at the edges after
    * space-trim (the synthetic corpus has none; the dirty-table
    * robustness leg plants them).
    */
  private def kernelWsSql(trimmed: String): String =
    s"(CASE WHEN $trimmed = '' THEN ['']::VARCHAR[] " +
      s"WHEN len(regexp_extract_all($trimmed, '$JavaNonWs+')) = 0 " +
      "THEN []::VARCHAR[] " +
      s"WHEN regexp_matches($trimmed, '^$JavaWs') " +
      s"THEN list_prepend('', regexp_extract_all($trimmed, '$JavaNonWs+')) " +
      s"ELSE regexp_extract_all($trimmed, '$JavaNonWs+') END)"

  /** Shared DuckDB CTE blocks: the Gopher-stat recompute (q30 + q53) and
    * the 8-token span-coverage recompute (q31 + q53) — ONE definition
    * each, so the funnel oracle can never drift from the per-stage
    * oracles it composes.
    */
  private val gopherCtes: String =
    ("""w AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
      |    """.stripMargin +
      kernelWsSql("trim(lower(text))") + """ AS ws
      |  FROM documents),""".stripMargin) + "\n" +
    """tc AS (
      |  SELECT doc_id, tk, count(*) AS c
      |  FROM (SELECT doc_id, unnest(ws) AS tk FROM w) GROUP BY 1, 2),
      |dup AS (
      |  SELECT doc_id,
      |    CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT) AS d
      |  FROM tc GROUP BY doc_id),
      |bc AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
      |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |      ELSE []::VARCHAR[] END) AS g
      |    FROM w) GROUP BY 1, 2),
      |topbi AS (
      |  SELECT doc_id, CAST(max(c * length(g)) AS BIGINT) AS tb
      |  FROM bc GROUP BY doc_id),
      |tg AS (
      |  SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS p,
      |    unnest(gs) AS g
      |  FROM (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
      |      list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE []::VARCHAR[] END AS gs FROM w)),
      |dupg AS (
      |  SELECT doc_id, g FROM (
      |    SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2)
      |  WHERE c >= 2),
      |cov AS (
      |  SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT) AS cv FROM (
      |    SELECT t.doc_id, t.p + u.o AS pos
      |    FROM tg t JOIN dupg d ON d.doc_id = t.doc_id AND d.g = t.g,
      |      generate_series(0, 2) u(o)) GROUP BY doc_id)""".stripMargin

  /** The q30 keep rule over the [[gopherCtes]] join row. */
  private val gopherKeepSql: String =
    """CAST(CASE WHEN coalesce(dup.d, 0) * 100 < len(ws) * 85
      |    AND coalesce(cov.cv, 0) = 0
      |    AND coalesce(topbi.tb, 0) * 10 < w.len
      |    THEN 1 ELSE 0 END AS BIGINT)""".stripMargin

  private val spanCtes: String =
    ("""w8 AS (
      |  SELECT doc_id,
      |    """.stripMargin +
      kernelWsSql("trim(lower(text))") + """ AS ws,
      |    CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),""".stripMargin) + "\n" +
    """gr8 AS (
      |  SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS p,
      |    unnest(gs) AS g
      |  FROM (SELECT doc_id, CASE WHEN len(ws) >= 8 THEN
      |      list_transform(range(1, len(ws) - 6),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
      |          ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
      |          ws[i+6] || ' ' || ws[i+7])
      |    ELSE []::VARCHAR[] END AS gs FROM w8)),
      |dupg8 AS (
      |  SELECT g FROM (
      |    SELECT g, count(DISTINCT doc_id) AS nd FROM gr8 GROUP BY g)
      |  WHERE nd >= 2),
      |cov8 AS (
      |  SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT) AS covered
      |  FROM (
      |    SELECT t.doc_id, t.p + u.o AS pos
      |    FROM gr8 t JOIN dupg8 d ON d.g = t.g,
      |      generate_series(0, 7) u(o)) GROUP BY doc_id)""".stripMargin

  /** The q31 integer coverage percent over the [[spanCtes]] join row. */
  private val spanPctSql: String =
    """CAST(floor(coalesce(cov8.covered, 0) * 100 / (w8.n_tokens * 1.0))
      |    AS BIGINT)""".stripMargin

  /** Shared q21 pair-derivation CTE block (tokens → distinct 3-shingles →
    * inverted index → df-capped postings → pair intersections + kept-set
    * sizes) — ONE definition, reused by the q21 oracle and the q60
    * dup-cluster oracle so the edge set can never drift between them.
    */
  private val jaccardCtes: String =
    ("""w AS (SELECT doc_id,
      |    """.stripMargin +
      kernelWsSql("trim(lower(text))") + """ AS ws
      |  FROM documents),""".stripMargin) + "\n" +
    """docs AS (SELECT doc_id,
      |  CASE WHEN len(ws) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(ws)-1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |  ELSE []::VARCHAR[] END AS sh FROM w),
      |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
      |kept AS (SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
      |    FROM inv) WHERE df <= 64),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*) AS inter
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id)"""
      .stripMargin

  /** Shared q57 CTE block (tokens → bigrams → smoothed LM counts →
    * per-doc discretized log-prob totals `pd`) — reused by the q63
    * pipeline oracle so the perplexity stage has one definition.
    */
  private val pplCtes: String =
    s"""wp AS (
      |  SELECT doc_id, ${kernelWsSql("trim(lower(text))")}
      |    AS ws
      |  FROM documents),
      |gp AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
      |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |    ELSE []::VARCHAR[] END) AS g
      |  FROM wp),
      |m12 AS (SELECT g, count(*) AS c12 FROM gp GROUP BY g),
      |m1 AS (
      |  SELECT split_part(g, ' ', 1) AS w1, sum(c12) AS c1
      |  FROM m12 GROUP BY 1),
      |vv AS (
      |  SELECT count(DISTINCT split_part(g, ' ', 2)) AS vsz FROM m12),
      |mm AS (
      |  SELECT m12.g, m12.c12, m1.c1
      |  FROM m12 JOIN m1 ON m1.w1 = split_part(m12.g, ' ', 1)),
      |pd AS (
      |  SELECT gp.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(floor(ln((mm.c12 + 1)::DOUBLE /
      |      (mm.c1 + vv.vsz)::DOUBLE) * 10000)
      |      AS BIGINT)) AS BIGINT) AS logp_e4
      |  FROM gp JOIN mm ON mm.g = gp.g, vv GROUP BY gp.doc_id)"""
      .stripMargin

  /** Shared q58 CTE block (source+target LM counts → per-doc discretized
    * log-weight totals `pdw`) — reused by the q63 pipeline oracle.
    */
  private val dsirCtes: String =
    s"""wd AS (
      |  SELECT doc_id, lang,
      |    ${kernelWsSql("trim(lower(text))")} AS ws
      |  FROM documents),
      |gd AS (
      |  SELECT doc_id, lang, unnest(CASE WHEN len(ws) >= 2 THEN
      |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |    ELSE []::VARCHAR[] END) AS g
      |  FROM wd),
      |sc AS (SELECT g, count(*) AS cs FROM gd GROUP BY g),
      |tcd AS (SELECT g, count(*) AS ct FROM gd
      |  WHERE lang = '${TextQueries.DsirTargetLang}' GROUP BY g),
      |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ns,
      |  CAST(count(*) AS BIGINT) AS v FROM sc),
      |ttot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tcd),
      |md AS (
      |  SELECT sc.g, sc.cs, coalesce(tcd.ct, 0) AS ct
      |  FROM sc LEFT JOIN tcd ON tcd.g = sc.g),
      |pdw AS (
      |  SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(floor(ln(
      |      ((md.ct + 1) * (tot.ns + tot.v))::DOUBLE /
      |      ((ttot.nt + tot.v) * (md.cs + 1))::DOUBLE) * 10000)
      |      AS BIGINT)) AS BIGINT) AS logw_e4
      |  FROM gd JOIN md ON md.g = gd.g, tot, ttot GROUP BY gd.doc_id)"""
      .stripMargin

  /** Shared q59 CTE block (13-token shingle sets → benchmark gram set →
    * per-doc collision counts `hv`) — reused by the q63 pipeline oracle.
    */
  private val deconCtes: String =
    s"""wq AS (SELECT doc_id,
      |    ${kernelWsSql("trim(lower(text))")} AS ws
      |  FROM documents),
      |dq AS (SELECT doc_id,
      |  CASE WHEN len(ws) >= ${DedupQueries.DecontamN} THEN
      |    list_distinct(list_transform(
      |      range(1, len(ws) - ${DedupQueries.DecontamN - 2}),
      |      i -> ${(0 until DedupQueries.DecontamN)
                    .map(o => s"ws[i+$o]").mkString(" || ' ' || ")}))
      |  ELSE []::VARCHAR[] END AS sh FROM wq),
      |bg AS (SELECT DISTINCT unnest(sh) AS g FROM dq
      |  WHERE doc_id % ${DedupQueries.DecontamBenchMod} = 0),
      |hv AS (SELECT d.doc_id, count(*) AS hits
      |  FROM (SELECT doc_id, unnest(sh) AS g FROM dq
      |    WHERE doc_id % ${DedupQueries.DecontamBenchMod} <> 0) d
      |  JOIN bg ON bg.g = d.g GROUP BY d.doc_id)""".stripMargin

  /** Shared q53/q63 stage-flag CTEs (gopher keep, exact-dedup keep-first,
    * span keep) over the [[gopherCtes]]/[[spanCtes]] fragments — one
    * definition for the funnel and the full pipeline.
    */
  private val funnelKeepCtes: String =
    s"""gk AS (
      |  SELECT w.doc_id, $gopherKeepSql AS gopher_keep
      |  FROM w LEFT JOIN dup USING (doc_id) LEFT JOIN topbi USING (doc_id)
      |    LEFT JOIN cov USING (doc_id)),
      |dk AS (
      |  SELECT doc_id, CAST(CASE WHEN doc_id = min(doc_id)
      |      OVER (PARTITION BY text) THEN 1 ELSE 0 END AS BIGINT)
      |    AS dedup_keep
      |  FROM documents),
      |sk AS (
      |  SELECT w8.doc_id,
      |    CAST(CASE WHEN $spanPctSql < 50 THEN 1 ELSE 0 END AS BIGINT)
      |      AS span_keep
      |  FROM w8 LEFT JOIN cov8 USING (doc_id))""".stripMargin

  /** The floor-discretized per-doc mean the q57/q58 bucket/keep rules
    * read — one definition for the stage oracles and the q63 pipeline.
    */
  private def meanE4Sql(tbl: String, tot: String): String =
    s"CAST(floor($tbl.$tot::DOUBLE / $tbl.n_bigrams) AS BIGINT)"

  /** Every driver query, declared once. The order is DETERMINISTIC and
    * part of the contract: Bench and perfbench run queries in this order,
    * and the crawl-backed q4x family is listed LAST so the memoized
    * crawl's session state (caches, broadcast cleanup churn) cannot
    * shadow the relational/dedup/similarity measurements that precede it.
    *
    * `ceilingSec` values are r2/r3 reproduced timings at sf0.1, rounded
    * up (see Bench's phase-1 noise armor).
    */
  lazy val registry: Seq[Query] = Seq(
    Query("q01_pivot_counts", CoreQueries.pivotCounts,
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_linestatus='F') AS "F",
        | count(*) FILTER (WHERE l_linestatus='O') AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q02_blocked_keywords", CoreQueries.blockedKeywords,
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (text LIKE '%shuffle%' OR text LIKE '%skew%')
        |ORDER BY doc_id""".stripMargin),
    Query("q03_label_prefix", CoreQueries.labelPrefix,
      """SELECT doc_id, source, label FROM (
        |  SELECT doc_id, source,
        |    source || (CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END)
        |      || '.' || upper(lang) AS label
        |  FROM documents) t
        |WHERE lower(label) LIKE 'src1.%' ORDER BY doc_id""".stripMargin),
    Query("q04_dedup_first", CoreQueries.dedupFirst,
      """SELECT lang, source, min(doc_id) AS first_doc, count(*) AS n
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Query("q05_lookup_join", CoreQueries.lookupJoin,
      """SELECT r_name, count(*) AS n_customers,
        | CAST(sum(floor(c_acctbal*100)) AS BIGINT) AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("q06_anti_join_seen", CoreQueries.antiJoinSeen,
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus='P')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q07_topk", CoreQueries.topK,
      """SELECT event_id, CAST(floor(value*100) AS BIGINT) AS value_cents
        |FROM events ORDER BY value_cents DESC, event_id LIMIT 100""".stripMargin),
    Query("q08_first_match", CoreQueries.firstMatch,
      """SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS first_ts
        |FROM (SELECT user_id, event_id, ts,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q09_highwater_stop", CoreQueries.highWaterStop,
      """WITH sentinel AS (
        |  SELECT min(event_id) AS stop_id FROM events
        |  WHERE event_type='purchase' AND value > 400)
        |SELECT event_type, count(*) AS n, max(event_id) AS max_id
        |FROM events, sentinel WHERE event_id < stop_id
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q10_page_generator", CoreQueries.pageGenerator,
      """SELECT o_orderpriority, total, page_idx,
        | 'https://example.org/search?q=' || o_orderpriority || '&start=' ||
        |   CAST(page_idx*200 AS VARCHAR) AS page_url
        |FROM (
        |  SELECT o_orderpriority, total,
        |         unnest(generate_series(0, total_pages-1)) AS page_idx
        |  FROM (SELECT o_orderpriority, count(*) AS total,
        |          CAST(ceil(count(*)/200.0) AS BIGINT) AS total_pages
        |        FROM orders GROUP BY o_orderpriority) a
        |) b ORDER BY o_orderpriority, page_idx""".stripMargin),
    Query("q11_union_types", CoreQueries.unionTypes,
      """SELECT event_id, 'reference' AS crawl_type FROM events
        | WHERE event_type='purchase'
        |UNION ALL
        |SELECT event_id, 'citation' AS crawl_type FROM events
        | WHERE event_type='error'
        |ORDER BY event_id, crawl_type""".stripMargin),
    Query("q12_daily_counts", CoreQueries.dailyCounts,
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        | CAST(sum(floor(value*100)) AS BIGINT) AS value_cents
        |FROM events GROUP BY day ORDER BY day""".stripMargin),
    Query("q13_range_enum", CoreQueries.rangeEnum,
      """SELECT i AS paper_id,
        | printf('https://www.ijcai.org/proceedings/2018/%04d.pdf', i) AS url
        |FROM generate_series(1, 870) t(i) ORDER BY paper_id""".stripMargin),
    Query("q14_filter_diagnostics", CoreQueries.filterDiagnostics,
      """SELECT count(*) AS total,
        | CAST(sum(CASE WHEN text LIKE '%skew%' THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
        | CAST(sum(CASE WHEN text LIKE '%skew%' THEN 0 ELSE 1 END) AS BIGINT) AS kept
        |FROM documents""".stripMargin),
    Query("q15_classify_tags", CoreQueries.classifyTags,
      """SELECT category, count(*) AS n, min(doc_id) AS first_doc FROM (
        |  SELECT CASE WHEN text LIKE '%spark%' THEN 'top_conference'
        |              WHEN text LIKE '%stream%' THEN 'survey'
        |              ELSE 'other' END AS category, doc_id
        |  FROM documents) t
        |GROUP BY category ORDER BY category""".stripMargin),
    Query("q16_token_count", TextQueries.tokenCount,
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text,
        |   '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT)
        |   AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q17_quality_score", TextQueries.qualityScore,
      """SELECT doc_id, n_chars,
        | CAST(length(text) AS BIGINT) AS len,
        | CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_words,
        | CAST(len(list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'),
        |   w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_hits,
        | CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct,
        | CAST(floor(length(text)*100.0 /
        |   len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'))) AS BIGINT)
        |   AS centichars_per_word
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q18_lang_id", TextQueries.langIdHeuristic,
      """SELECT doc_id, lang AS lang_actual,
        | CAST(len(string_split(text, ' the ')) - 1 AS BIGINT) AS en_hits,
        | CAST(len(string_split(text, ' der ')) - 1 AS BIGINT) AS de_hits,
        | CAST(len(string_split(text, ' el ')) - 1 AS BIGINT) AS es_hits,
        | CASE
        |   WHEN len(string_split(text, ' the ')) - 1 >= len(string_split(text, ' der ')) - 1
        |    AND len(string_split(text, ' the ')) - 1 >= len(string_split(text, ' el ')) - 1
        |    AND len(string_split(text, ' the ')) - 1 > 0 THEN 'en'
        |   WHEN len(string_split(text, ' der ')) - 1 >= len(string_split(text, ' el ')) - 1
        |    AND len(string_split(text, ' der ')) - 1 > 0 THEN 'de'
        |   WHEN len(string_split(text, ' el ')) - 1 > 0 THEN 'es'
        |   ELSE 'unknown' END AS lang_guess
        |FROM documents ORDER BY doc_id""".stripMargin),
    // q19: the xxhash64 content hash has no DuckDB twin (kernel semantics
    // are UDF-twin spec-pinned), so the hash column comes from the dumped
    // Spark values; len / alpha_runs are recomputed from raw text.
    Query("q19_fingerprint", TextQueries.fingerprint,
      s"""SELECT d.doc_id, f.content_hash,
        |  CAST(length(d.text) AS BIGINT) AS len,
        |  CAST(len(regexp_extract_all(d.text, '[a-z]+')) AS BIGINT)
        |    AS alpha_runs
        |FROM documents d
        |JOIN '$OracleTables/fingerprints/*.parquet' f
        |  ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q30: DuckDB recomputes every Gopher repetition stat from scratch via
    // explode + re-group (the formulation the Spark kernel deliberately
    // avoids — which makes it a fully independent twin); tokenization is
    // the q21 house form regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
    // and length() is codepoints on both engines. CTEs shared with q53.
    // null-text docs: the Spark kernel null-propagates (stats and keep
    // are NULL — the diagnostic view reports "unknown", while the q53
    // FUNNEL fails such docs closed), so the oracle's zero-coalescing is
    // gated on ws being present
    Query("q30_gopher_quality", TextQueries.gopherRepetition,
      s"""WITH $gopherCtes
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN ws IS NULL THEN NULL
        |    ELSE coalesce(dup.d, 0) END AS BIGINT) AS dup_token_positions,
        |  CAST(CASE WHEN ws IS NULL THEN NULL
        |    ELSE coalesce(topbi.tb, 0) END AS BIGINT) AS top_bigram_score,
        |  CAST(CASE WHEN ws IS NULL THEN NULL
        |    ELSE coalesce(cov.cv, 0) END AS BIGINT) AS dup_trigram_coverage,
        |  CASE WHEN ws IS NULL THEN NULL ELSE $gopherKeepSql END AS keep
        |FROM w LEFT JOIN dup USING (doc_id) LEFT JOIN topbi USING (doc_id)
        |  LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // training-data pipeline: dedup family
    Query("q20_exact_dedup", DedupQueries.exactDedup,
      """SELECT min(doc_id) AS keep_doc, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_doc""".stripMargin, ceilingSec = 3.0),
    Query("q21_ngram_jaccard", DedupQueries.ngramJaccard,
      s"""WITH $jaccardCtes
        |SELECT doc_a, doc_b,
        |  CAST(floor(inter*100.0/(sa.sz+sb.sz-inter)) AS BIGINT)
        |    AS jaccard_pct
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(floor(inter*100.0/(sa.sz+sb.sz-inter)) AS BIGINT) >= 15
        |ORDER BY doc_a, doc_b""".stripMargin, ceilingSec = 5.0),
    // q22: DuckDB recomputes everything downstream of the minhash kernel
    // from the dumped (doc_id, band, band_hash) rows — the BucketCap
    // (interpolated from the SAME Scala constant the query compiles, no
    // drift), the banded self-join, pair dedup, and the exact-Jaccard
    // verify over shingles DuckDB re-derives from raw documents.text.
    Query("q22_minhash_lsh", DedupQueries.minhashLsh,
      s"""WITH bands AS (
        |  SELECT doc_id, band, band_hash
        |  FROM '$OracleTables/lsh_bands/*.parquet'),
        |bsz AS (
        |  SELECT band, band_hash, count(*) AS n FROM bands GROUP BY 1, 2),
        |kept AS (
        |  SELECT b.doc_id, b.band, b.band_hash FROM bands b
        |  JOIN bsz s ON s.band = b.band AND s.band_hash = b.band_hash
        |  WHERE s.n <= ${DedupQueries.BucketCap}),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b
        |    ON a.band = b.band AND a.band_hash = b.band_hash
        |    AND a.doc_id < b.doc_id),
        |w AS (SELECT doc_id,
        |    ${kernelWsSql("trim(lower(text))")} AS ws
        |  FROM documents),
        |sdocs AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3 THEN
        |    list_distinct(list_transform(range(1, len(ws)-1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
        |  ELSE []::VARCHAR[] END AS sh FROM w),
        |jx AS (
        |  SELECT c.doc_a, c.doc_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS sa, len(b.sh) AS sb
        |  FROM cand c JOIN sdocs a ON a.doc_id = c.doc_a
        |  JOIN sdocs b ON b.doc_id = c.doc_b)
        |SELECT doc_a, doc_b,
        |  CAST(floor(inter*100.0/(sa+sb-inter)) AS BIGINT) AS jaccard_pct
        |FROM jx
        |WHERE CAST(floor(inter*100.0/(sa+sb-inter)) AS BIGINT) >= 50
        |ORDER BY doc_a, doc_b""".stripMargin, ceilingSec = 3.0),
    // q23: DuckDB recomputes the chunk pigeonhole, BucketCap, pairing and
    // hamming distance from the dumped (doc_id, simhash) values. The
    // `& 65535` mask makes arithmetic-vs-logical shift semantics
    // irrelevant on both engines.
    Query("q23_simhash_pairs", DedupQueries.simhashPairs,
      s"""WITH sh AS (SELECT doc_id, simhash
        |  FROM '$OracleTables/simhash/*.parquet'),
        |ch AS (SELECT doc_id, simhash, t.c AS chunk_idx,
        |    ((simhash >> (t.c*16)) & 65535) AS chunk
        |  FROM sh, generate_series(0, 3) t(c)),
        |csz AS (
        |  SELECT chunk_idx, chunk, count(*) AS n FROM ch GROUP BY 1, 2),
        |kept AS (
        |  SELECT c.doc_id, c.simhash, c.chunk_idx, c.chunk FROM ch c
        |  JOIN csz s ON s.chunk_idx = c.chunk_idx AND s.chunk = c.chunk
        |  WHERE s.n <= ${DedupQueries.BucketCap}),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS h
        |  FROM kept a JOIN kept b
        |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(h AS INT) AS hamming
        |FROM pairs WHERE h <= 3 ORDER BY doc_a, doc_b""".stripMargin),
    // q31: positions are 0-based on both sides (posexplode ↔
    // generate_subscripts−1); Spark sequence(p, p+7) inclusive ↔ DuckDB
    // range(p, p+8) exclusive-end; the pct division is exact-integer /
    // exact-integer in IEEE double on both engines, then floored.
    // CTEs shared with q53.
    Query("q31_dup_span_coverage", DedupQueries.dupSpanCoverage,
      s"""WITH $spanCtes
        |SELECT w8.doc_id, w8.n_tokens,
        |  CAST(coalesce(cov8.covered, 0) AS BIGINT) AS covered,
        |  $spanPctSql AS coverage_pct
        |FROM w8 LEFT JOIN cov8 USING (doc_id)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q61: the scrub re-derived — DuckDB recomputes the covered position
    // set from the SAME spanCtes fragment as q31 (no drift), anti-joins
    // the original-case token sequence, and reassembles the survivors
    // with ORDER BY position.
    Query("q61_dup_span_scrub", DedupQueries.dupSpanScrub,
      s"""WITH $spanCtes,
        |tq AS (SELECT doc_id,
        |    CAST(generate_subscripts(tks, 1) - 1 AS BIGINT) AS p,
        |    unnest(tks) AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')
        |      AS tks
        |    FROM documents)),
        |cp AS (SELECT DISTINCT t.doc_id, t.p + u.o AS q
        |  FROM gr8 t JOIN dupg8 d ON d.g = t.g,
        |    generate_series(0, 7) u(o)),
        |kq AS (SELECT tq.doc_id, tq.p, tq.tok FROM tq
        |  LEFT JOIN cp ON cp.doc_id = tq.doc_id AND cp.q = tq.p
        |  WHERE cp.doc_id IS NULL),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        |    string_agg(tok, ' ' ORDER BY p) AS scrubbed_text
        |  FROM kq GROUP BY doc_id)
        |SELECT w8.doc_id, w8.n_tokens,
        |  coalesce(ka.kept_tokens, 0) AS kept_tokens,
        |  coalesce(ka.scrubbed_text, '') AS scrubbed_text
        |FROM w8 LEFT JOIN ka USING (doc_id)
        |ORDER BY w8.doc_id""".stripMargin, ceilingSec = 3.0),
    // q53: the funnel twin composes the SAME shared CTE blocks the q30 /
    // q31 oracles run, plus a window-min exact-dedup stage, so each
    // stage flag is recomputed by DuckDB from raw documents.
    Query("q53_corpus_funnel", TextQueries.corpusFunnel,
      s"""WITH $gopherCtes,
        |$spanCtes,
        |$funnelKeepCtes
        |SELECT gk.doc_id, gk.gopher_keep, dk.dedup_keep, sk.span_keep,
        |  CAST(CASE WHEN gk.gopher_keep = 1 AND dk.dedup_keep = 1
        |    AND sk.span_keep = 1 THEN 1 ELSE 0 END AS BIGINT) AS final_keep
        |FROM gk JOIN dk USING (doc_id) JOIN sk USING (doc_id)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q63: the full curation pipeline oracle COMPOSES the same shared
    // CTE fragments its stage oracles use (gopher/span from q53, LM
    // totals from q57/q58, collisions from q59) — one definition per
    // stage on both sides, so the pipeline can never drift from its
    // standalone stages. Spark runs six stage DAGs, hence the ceiling.
    Query("q63_curation_pipeline", TextQueries.curationPipeline,
      s"""WITH $gopherCtes,
        |$spanCtes,
        |$pplCtes,
        |$dsirCtes,
        |$deconCtes,
        |$funnelKeepCtes,
        |pk AS (
        |  SELECT d.doc_id, CAST(CASE WHEN coalesce(pd.n_bigrams, 0) > 0
        |      AND ${meanE4Sql("pd", "logp_e4")}
        |        >= ${TextQueries.PplTailE4}
        |    THEN 1 ELSE 0 END AS BIGINT) AS ppl_keep
        |  FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id),
        |ik AS (
        |  SELECT d.doc_id, CAST(CASE WHEN coalesce(pdw.n_bigrams, 0) > 0
        |      AND ${meanE4Sql("pdw", "logw_e4")} > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS dsir_keep
        |  FROM documents d LEFT JOIN pdw ON pdw.doc_id = d.doc_id),
        |ck AS (
        |  SELECT d.doc_id, CAST(CASE WHEN
        |      d.doc_id % ${DedupQueries.DecontamBenchMod} <> 0
        |      AND coalesce(hv.hits, 0) > 0 THEN 0 ELSE 1 END AS BIGINT)
        |    AS decon_keep,
        |    CAST(CASE WHEN d.doc_id % ${DedupQueries.DecontamBenchMod} = 0
        |      THEN 1 ELSE 0 END AS BIGINT) AS is_benchmark
        |  FROM documents d LEFT JOIN hv ON hv.doc_id = d.doc_id)
        |SELECT gk.doc_id, gk.gopher_keep, dk.dedup_keep, sk.span_keep,
        |  pk.ppl_keep, ik.dsir_keep, ck.decon_keep, ck.is_benchmark,
        |  CAST(CASE WHEN gk.gopher_keep = 1 AND dk.dedup_keep = 1
        |    AND sk.span_keep = 1 AND pk.ppl_keep = 1 AND ik.dsir_keep = 1
        |    AND ck.decon_keep = 1 AND ck.is_benchmark = 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS final_keep
        |FROM gk JOIN dk USING (doc_id) JOIN sk USING (doc_id)
        |  JOIN pk USING (doc_id) JOIN ik USING (doc_id)
        |  JOIN ck USING (doc_id)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 5.0),
    // q54: the regex constants are interpolated from the SAME Scala vals
    // the Spark query compiles (no drift); DuckDB needs the explicit 'g'
    // flag where Spark's regexp_replace is global by default.
    Query("q54_pii_scrub", TextQueries.piiScrub,
      s"""WITH raw AS (
        |  SELECT doc_id, text || ' contact user' || doc_id ||
        |    '@example.com or admin@host' || (doc_id % 7) ||
        |    '.org via 10.' || (doc_id % 256) || '.' || (doc_id % 100) ||
        |    '.7 bye' AS raw
        |  FROM documents),
        |ne AS (
        |  SELECT doc_id, raw, regexp_replace(raw,
        |    '${TextQueries.EmailRe}', '<EMAIL>', 'g') AS no_email
        |  FROM raw)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '${TextQueries.EmailRe}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_email, '${TextQueries.Ipv4Re}'))
        |    AS BIGINT) AS n_ips,
        |  regexp_replace(no_email,
        |    '${TextQueries.Ipv4Re}', '<IP>', 'g') AS redacted
        |FROM ne ORDER BY doc_id""".stripMargin),
    // q56: the deterministic sampler re-derived end-to-end — suffix-based
    // target rates and the (overflow-hardened) coprime residue rule.
    Query("q56_domain_mix", TextQueries.domainMix,
      s"""SELECT source, count(*) AS total,
        |  CAST(sum(CASE WHEN
        |    ((doc_id % ${TextQueries.ResidueReduceMod}) * 2654435761)
        |      % 1000 <
        |    1000 - CAST(regexp_extract(source, '\\d+') AS BIGINT) * 45
        |    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(max(1000 - CAST(regexp_extract(source, '\\d+') AS BIGINT)
        |    * 45) AS BIGINT) AS target_permille
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // q57: DuckDB retrains the bigram LM from the raw table (integer
    // counts), rescoring every bigram occurrence with the same
    // floor(1e4·ln(c12/c1)) discretization and BIGINT sums — the whole
    // perplexity pipeline re-derived, nothing trusted from Spark. The
    // tokenization mirror (trim→lower→split \s+ → joined bigrams) is the
    // proven q30/q31 fragment.
    Query("q57_perplexity", TextQueries.perplexityFilter,
      s"""WITH $pplCtes
        |SELECT doc_id, n_bigrams, logp_e4, mean_e4,
        |  CASE WHEN n_bigrams = 0 THEN 'short'
        |    WHEN mean_e4 >= ${TextQueries.PplHeadE4} THEN 'head'
        |    WHEN mean_e4 >= ${TextQueries.PplTailE4} THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM (
        |  SELECT d.doc_id,
        |    coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |    coalesce(pd.logp_e4, 0) AS logp_e4,
        |    CASE WHEN coalesce(pd.n_bigrams, 0) = 0 THEN 0
        |      ELSE ${meanE4Sql("pd", "logp_e4")}
        |      END AS mean_e4
        |  FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q67: the EXTERNAL-reference perplexity path — DuckDB trains the LM
    // on the held-out RefSliceMod slice only and scores the rest with
    // left-join smoothing (unseen bigram → (0+1)/(c1+V), unseen context
    // → 1/V); V is the REFERENCE model's second-word vocabulary.
    Query("q67_perplexity_ref", TextQueries.perplexityRef,
      s"""WITH wr AS (
        |  SELECT doc_id, ${kernelWsSql("trim(lower(text))")}
        |    AS ws
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
        |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |    ELSE []::VARCHAR[] END) AS g
        |  FROM wr),
        |rm12 AS (SELECT g, count(*) AS c12 FROM gr
        |  WHERE doc_id % ${TextQueries.RefSliceMod} = 0 GROUP BY g),
        |rm1 AS (
        |  SELECT split_part(g, ' ', 1) AS w1, sum(c12) AS c1
        |  FROM rm12 GROUP BY 1),
        |rvv AS (
        |  SELECT count(DISTINCT split_part(g, ' ', 2)) AS vsz FROM rm12),
        |rpd AS (
        |  SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CAST(floor(ln((coalesce(rm12.c12, 0) + 1)::DOUBLE /
        |      (coalesce(rm1.c1, 0) + rvv.vsz)::DOUBLE) * 10000)
        |      AS BIGINT)) AS BIGINT) AS logp_e4
        |  FROM gr
        |  LEFT JOIN rm12 ON rm12.g = gr.g
        |  LEFT JOIN rm1 ON rm1.w1 = split_part(gr.g, ' ', 1), rvv
        |  WHERE gr.doc_id % ${TextQueries.RefSliceMod} <> 0
        |  GROUP BY gr.doc_id)
        |SELECT doc_id, n_bigrams, logp_e4, mean_e4,
        |  CASE WHEN n_bigrams = 0 THEN 'short'
        |    WHEN mean_e4 >= ${TextQueries.PplHeadE4} THEN 'head'
        |    WHEN mean_e4 >= ${TextQueries.PplTailE4} THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM (
        |  SELECT d.doc_id,
        |    coalesce(rpd.n_bigrams, 0) AS n_bigrams,
        |    coalesce(rpd.logp_e4, 0) AS logp_e4,
        |    CASE WHEN coalesce(rpd.n_bigrams, 0) = 0 THEN 0
        |      ELSE ${meanE4Sql("rpd", "logp_e4")}
        |      END AS mean_e4
        |  FROM documents d LEFT JOIN rpd ON rpd.doc_id = d.doc_id
        |  WHERE d.doc_id % ${TextQueries.RefSliceMod} <> 0)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q58: DuckDB retrains BOTH count models (source = all docs, target =
    // the designated lang slice) from the raw table and rescores every
    // occurrence with the same exact-BIGINT-products-then-one-ln
    // discretization — full independent re-derivation, as q57.
    Query("q58_importance_resample", TextQueries.importanceResample,
      s"""WITH $dsirCtes
        |SELECT doc_id, n_bigrams, logw_e4, mean_e4,
        |  CAST(CASE WHEN n_bigrams > 0 AND mean_e4 > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM (
        |  SELECT d.doc_id,
        |    coalesce(pdw.n_bigrams, 0) AS n_bigrams,
        |    coalesce(pdw.logw_e4, 0) AS logw_e4,
        |    CASE WHEN coalesce(pdw.n_bigrams, 0) = 0 THEN 0
        |      ELSE ${meanE4Sql("pdw", "logw_e4")}
        |      END AS mean_e4
        |  FROM documents d LEFT JOIN pdw ON pdw.doc_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q68: the EXTERNAL-target DSIR path — target counts from the
    // held-out slice, source model from the scored remainder, V = source
    // vocabulary (see importanceScoredWith scaladoc).
    Query("q68_dsir_ref", TextQueries.importanceRef,
      s"""WITH we AS (
        |  SELECT doc_id, ${kernelWsSql("trim(lower(text))")}
        |    AS ws
        |  FROM documents),
        |ge AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
        |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |    ELSE []::VARCHAR[] END) AS g
        |  FROM we),
        |sce AS (SELECT g, count(*) AS cs FROM ge
        |  WHERE doc_id % ${TextQueries.RefSliceMod} <> 0 GROUP BY g),
        |tce AS (SELECT g, count(*) AS ct FROM ge
        |  WHERE doc_id % ${TextQueries.RefSliceMod} = 0 GROUP BY g),
        |tote AS (SELECT CAST(sum(cs) AS BIGINT) AS ns,
        |  CAST(count(*) AS BIGINT) AS v FROM sce),
        |ttote AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt
        |  FROM tce),
        |mde AS (
        |  SELECT sce.g, sce.cs, coalesce(tce.ct, 0) AS ct
        |  FROM sce LEFT JOIN tce ON tce.g = sce.g),
        |pde AS (
        |  SELECT ge.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CAST(floor(ln(
        |      ((mde.ct + 1) * (tote.ns + tote.v))::DOUBLE /
        |      ((ttote.nt + tote.v) * (mde.cs + 1))::DOUBLE) * 10000)
        |      AS BIGINT)) AS BIGINT) AS logw_e4
        |  FROM ge JOIN mde ON mde.g = ge.g, tote, ttote
        |  WHERE ge.doc_id % ${TextQueries.RefSliceMod} <> 0
        |  GROUP BY ge.doc_id)
        |SELECT doc_id, n_bigrams, logw_e4, mean_e4,
        |  CAST(CASE WHEN n_bigrams > 0 AND mean_e4 > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM (
        |  SELECT d.doc_id,
        |    coalesce(pde.n_bigrams, 0) AS n_bigrams,
        |    coalesce(pde.logw_e4, 0) AS logw_e4,
        |    CASE WHEN coalesce(pde.n_bigrams, 0) = 0 THEN 0
        |      ELSE ${meanE4Sql("pde", "logw_e4")}
        |      END AS mean_e4
        |  FROM documents d LEFT JOIN pde ON pde.doc_id = d.doc_id
        |  WHERE d.doc_id % ${TextQueries.RefSliceMod} <> 0)
        |ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q62: the leakage-safe split re-derived — q20's min-doc_id-per-text
    // representative, the q56 residue rule over it, the same boundaries.
    Query("q62_leakage_safe_split", TextQueries.leakageSafeSplit,
      s"""WITH reps AS (
        |  SELECT text, min(doc_id) AS rep FROM documents GROUP BY text)
        |SELECT d.doc_id, r.rep,
        |  CASE WHEN ((r.rep % ${TextQueries.ResidueReduceMod})
        |      * 2654435761) % 1000 <
        |      ${TextQueries.SplitTrainPermille} THEN 'train'
        |    WHEN ((r.rep % ${TextQueries.ResidueReduceMod})
        |      * 2654435761) % 1000 <
        |      ${TextQueries.SplitValPermille} THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d
        |JOIN reps r ON r.text IS NOT DISTINCT FROM d.text
        |ORDER BY d.doc_id""".stripMargin),
    // q59: benchmark decontamination re-derived — the 13-token distinct
    // shingle sets (the q21 mirror at n=13), the benchmark slice's gram
    // set, and the per-doc collision counts.
    Query("q59_decontaminate", DedupQueries.decontaminate,
      s"""WITH $deconCtes
        |SELECT dq.doc_id, CAST(len(dq.sh) AS BIGINT) AS n_shingles,
        |  CAST(CASE WHEN dq.doc_id % ${DedupQueries.DecontamBenchMod} = 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_benchmark,
        |  CAST(coalesce(hv.hits, 0) AS BIGINT) AS hits,
        |  CAST(CASE WHEN dq.doc_id % ${DedupQueries.DecontamBenchMod} <> 0
        |    AND coalesce(hv.hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM dq LEFT JOIN hv ON hv.doc_id = dq.doc_id
        |ORDER BY dq.doc_id""".stripMargin, ceilingSec = 3.0),
    // q60: DuckDB re-derives the q21 edge set from the SAME shared CTE
    // block (no drift possible), then computes connected components with
    // a recursive reachability CTE and min-labels each component — an
    // independent algorithm (transitive closure) arriving at the same
    // clusters as Spark's large-star/small-star rounds. The ceiling
    // covers those rounds only: Bench pays the shared q21 pair
    // derivation up front as edge_derive_sec.
    Query("q60_dup_clusters", DedupQueries.dupClusters,
      s"""WITH RECURSIVE $jaccardCtes,
        |jp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(floor(inter*100.0/(sa.sz+sb.sz-inter)) AS BIGINT)
        |    >= 15),
        |se AS (SELECT doc_a, doc_b FROM jp
        |  UNION ALL SELECT doc_b, doc_a FROM jp),
        |cc AS (
        |  SELECT doc_id, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT se.doc_a AS doc_id, c.lbl FROM se JOIN cc c
        |    ON c.doc_id = se.doc_b),
        |comp AS (SELECT doc_id, min(lbl) AS cluster FROM cc GROUP BY doc_id),
        |csz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY cluster)
        |SELECT comp.doc_id, comp.cluster, csz.cluster_size,
        |  CAST(CASE WHEN comp.doc_id = comp.cluster THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_representative
        |FROM comp JOIN csz USING (cluster)
        |ORDER BY comp.doc_id""".stripMargin, ceilingSec = 6.0),
    // similarity search over embeddings
    Query("q24_embed_neardup", SimilarityQueries.embedNearDup,
      s"""WITH $vembCte,
        |p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_sum(list_transform(range(1,65),
        |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dp,
        |  sqrt(list_sum(list_transform(range(1,65),
        |    i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) AS na,
        |  sqrt(list_sum(list_transform(range(1,65),
        |    i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))) AS nb
        |  FROM vemb a JOIN vemb b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, vec_a, vec_b,
        |  CAST(floor(dp/(na*nb)*10000) AS BIGINT) AS cos_e4
        |FROM p WHERE CAST(floor(dp/(na*nb)*10000) AS BIGINT) >= 3000
        |ORDER BY label, vec_a, vec_b""".stripMargin),
    Query("q25_ann_brute", SimilarityQueries.annBruteForce,
      s"""WITH $vembCte,
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, CAST(floor(
        |  list_sum(list_transform(range(1,65),
        |    i -> embedding[i]::DOUBLE * qe[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1,65),
        |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1,65),
        |    i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))) * 10000) AS BIGINT)
        |  AS cos_e4
        |FROM vemb, q WHERE vec_id <> 0
        |ORDER BY cos_e4 DESC, vec_id LIMIT 10""".stripMargin),
    Query("q26_ann_lsh", SimilarityQueries.annLsh,
      s"""WITH $vembCte,
        |lanes(j, signs) AS (VALUES $q26LanesValues),
        |dots AS (
        |  SELECT e.vec_id, l.j,
        |    list_sum(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * l.signs[i])) AS d
        |  FROM vemb e, lanes l),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN d > 0 THEN 1<<j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |qb AS (SELECT bucket AS b FROM buckets WHERE vec_id = 0),
        |probes AS (
        |  SELECT b FROM qb
        |  UNION ALL SELECT xor(b, CAST(1<<j AS BIGINT))
        |  FROM qb, generate_series(0, 7) t(j)),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, CAST(floor(
        |  list_sum(list_transform(range(1,65),
        |    i -> e.embedding[i]::DOUBLE * qe[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1,65),
        |    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1,65),
        |    i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))) * 10000) AS BIGINT)
        |  AS cos_e4
        |FROM embeddings e
        |JOIN buckets bk ON bk.vec_id = e.vec_id
        |JOIN probes p ON bk.bucket = p.b, q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_e4 DESC, e.vec_id LIMIT 10""".stripMargin),
    // q51: the DuckDB side recomputes the IVF pipeline end-to-end and
    // independently of Spark — it re-RUNS the deterministic Lloyd
    // training ([[ivfLloydCtes]]: exact-rational init, discretized-cosine
    // argmax assignment, quantized-BIGINT mean updates) from the raw
    // table, then the query's top-IvfProbes probe cells and the exact
    // rerank over the trained cells. Its 12/32 probe cells rerank ~37%
    // of the corpus (SimilarityQueries.IvfProbes), hence the ceiling.
    Query("q51_ann_ivf", SimilarityQueries.annIvf,
      s"""WITH $ivfLloydCtes,
        |qcells AS (
        |  SELECT j AS cell FROM (
        |    SELECT j, row_number() OVER (ORDER BY ce4 DESC, j) rn
        |    FROM cosF WHERE vec_id = 0)
        |  WHERE rn <= ${SimilarityQueries.IvfProbes}),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, ${ce4Sql("e.embedding", "qe")} AS cos_e4
        |FROM embeddings e
        |JOIN asnF a ON a.vec_id = e.vec_id
        |JOIN qcells p ON a.cell = p.cell, q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_e4 DESC, e.vec_id LIMIT 10""".stripMargin, ceilingSec = 3.0),
    // q64: the k-NN JOIN oracle — DuckDB re-runs the Lloyd training, the
    // per-query probe-cell pick (row_number per query mirrors the sorted
    // struct-array slice), the cell equi-join, and the per-query exact
    // top-k rerank. Each corpus vector has exactly one asnF cell, so the
    // join cannot duplicate a (query, vector) pair.
    Query("q64_knn_join_ivf", SimilarityQueries.knnJoinIvf,
      s"""WITH $ivfLloydCtes,
        |qcells AS (
        |  SELECT vec_id AS query_id, j AS cell FROM (
        |    SELECT vec_id, j,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY ce4 DESC, j) rn
        |    FROM cosF WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0)
        |  WHERE rn <= ${SimilarityQueries.IvfProbes}),
        |qv AS (
        |  SELECT vec_id AS query_id, embedding AS q FROM embeddings
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0),
        |cand AS (
        |  SELECT qv.query_id, e.vec_id, ${ce4Sql("e.embedding", "qv.q")}
        |    AS cos_e4
        |  FROM embeddings e
        |  JOIN asnF a ON a.vec_id = e.vec_id
        |  JOIN qcells p ON a.cell = p.cell
        |  JOIN qv ON qv.query_id = p.query_id
        |  WHERE e.vec_id % ${SimilarityQueries.KnnQueryMod} <> 0)
        |SELECT query_id, vec_id, cos_e4, rank FROM (
        |  SELECT query_id, vec_id, cos_e4,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_e4 DESC, vec_id) AS rank
        |  FROM cand)
        |WHERE rank <= ${SimilarityQueries.KnnK}
        |ORDER BY query_id, rank""".stripMargin, ceilingSec = 3.0),
    // q65: the LSH twin — signatures/hamming-1 probes re-derived from the
    // inlined lane-sign constants (the q26 oracle generalized to a query
    // table; one bucket per corpus vector, 9 distinct probe buckets per
    // query, so no pair duplication here either).
    Query("q65_knn_join_lsh", SimilarityQueries.knnJoinLsh,
      s"""WITH $vembCte,
        |lanes(j, signs) AS (VALUES $q26LanesValues),
        |dots AS (
        |  SELECT e.vec_id, l.j,
        |    list_sum(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * l.signs[i])) AS d
        |  FROM vemb e, lanes l),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN d > 0 THEN 1<<j ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM dots GROUP BY vec_id),
        |qprobes AS (
        |  SELECT vec_id AS query_id, bucket AS b FROM buckets
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0
        |  UNION ALL
        |  SELECT vec_id, xor(bucket, CAST(1<<j AS BIGINT))
        |  FROM buckets, generate_series(0, 7) t(j)
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0),
        |qv AS (
        |  SELECT vec_id AS query_id, embedding AS q FROM embeddings
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0),
        |cand AS (
        |  SELECT qv.query_id, e.vec_id, ${ce4Sql("e.embedding", "qv.q")}
        |    AS cos_e4
        |  FROM embeddings e
        |  JOIN buckets bk ON bk.vec_id = e.vec_id
        |  JOIN qprobes p ON bk.bucket = p.b
        |  JOIN qv ON qv.query_id = p.query_id
        |  WHERE e.vec_id % ${SimilarityQueries.KnnQueryMod} <> 0)
        |SELECT query_id, vec_id, cos_e4, rank FROM (
        |  SELECT query_id, vec_id, cos_e4,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_e4 DESC, vec_id) AS rank
        |  FROM cand)
        |WHERE rank <= ${SimilarityQueries.KnnK}
        |ORDER BY query_id, rank""".stripMargin),
    // q55: DuckDB recomputes the whole PQ pipeline — it re-RUNS the
    // deterministic Lloyd codebook training ([[pqLloydCtes]]; row_number
    // ORDER BY d, k mirrors the kernel's first-min tiebreak, and the raw
    // L2² doubles compare identically because both engines run the same
    // index-order fold), then the reconstruction cosine (flatten
    // preserves subvector order), the top-PqRerank ADC cut, and the
    // exact rerank.
    Query("q55_ann_pq", SimilarityQueries.annPq,
      s"""WITH $pqLloydCtes,
        |recon AS (
        |  SELECT a.vec_id, flatten(list(t.c ORDER BY a.s)) AS r
        |  FROM pasnF a JOIN pcents${graft.operators.Codebooks.PqIters} t
        |    ON t.s = a.s AND t.k = a.k
        |  GROUP BY a.vec_id),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |adc AS (
        |  SELECT e.vec_id, e.embedding, ${ce4Sql("r.r", "qe")} AS adc_e4
        |  FROM embeddings e JOIN recon r ON r.vec_id = e.vec_id, q
        |  WHERE e.vec_id <> 0),
        |cand AS (
        |  SELECT vec_id, embedding, adc_e4 FROM adc
        |  ORDER BY adc_e4 DESC, vec_id
        |  LIMIT ${SimilarityQueries.PqRerank})
        |SELECT c.vec_id, c.adc_e4, ${ce4Sql("c.embedding", "qe")} AS cos_e4
        |FROM cand c, q
        |ORDER BY cos_e4 DESC, c.vec_id LIMIT 10""".stripMargin),
    // q69: the IVF-PQ composition oracle — DuckDB re-runs BOTH Lloyd
    // trainings (the ivf and pq CTE chains compose; their CTE names are
    // disjoint), the per-query probe-cell pick, the reconstruction-
    // cosine ADC shortlist cut per query, and the exact rerank.
    Query("q69_knn_join_ivfpq", SimilarityQueries.knnJoinIvfPq,
      s"""WITH $ivfLloydCtes,
        |$pqLloydCtes,
        |qcells AS (
        |  SELECT vec_id AS query_id, j AS cell FROM (
        |    SELECT vec_id, j,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY ce4 DESC, j) rn
        |    FROM cosF WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0)
        |  WHERE rn <= ${SimilarityQueries.IvfProbes}),
        |qv AS (
        |  SELECT vec_id AS query_id, embedding AS q FROM embeddings
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0),
        |recon AS (
        |  SELECT a.vec_id, flatten(list(t.c ORDER BY a.s)) AS r
        |  FROM pasnF a JOIN pcents${graft.operators.Codebooks.PqIters} t
        |    ON t.s = a.s AND t.k = a.k
        |  GROUP BY a.vec_id),
        |adc AS (
        |  SELECT qv.query_id, e.vec_id, e.embedding, qv.q,
        |    ${ce4Sql("r.r", "qv.q")} AS adc_e4
        |  FROM embeddings e
        |  JOIN asnF a ON a.vec_id = e.vec_id
        |  JOIN qcells p ON a.cell = p.cell
        |  JOIN qv ON qv.query_id = p.query_id
        |  JOIN recon r ON r.vec_id = e.vec_id
        |  WHERE e.vec_id % ${SimilarityQueries.KnnQueryMod} <> 0),
        |short AS (
        |  SELECT query_id, vec_id, embedding, q FROM (
        |    SELECT query_id, vec_id, embedding, q,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_e4 DESC, vec_id) AS ar
        |    FROM adc)
        |  WHERE ar <= ${SimilarityQueries.PqRerank}),
        |scored AS (
        |  SELECT query_id, vec_id, ${ce4Sql("embedding", "q")} AS cos_e4
        |  FROM short)
        |SELECT query_id, vec_id, cos_e4, rank FROM (
        |  SELECT query_id, vec_id, cos_e4,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_e4 DESC, vec_id) AS rank
        |  FROM scored)
        |WHERE rank <= ${SimilarityQueries.KnnK}
        |ORDER BY query_id, rank""".stripMargin, ceilingSec = 3.0),
    // q70: the exact twin — no index to re-derive, so the oracle is just
    // valid queries × valid corpus, the cosine fold, and the per-query
    // rank cut (the ground truth the q64/q65/q69 recall bars measure
    // against, recomputed wholly in DuckDB). It scores |Q|×N pairs by
    // definition: 40 queries × 20k corpus rows at sf0.1.
    Query("q70_knn_join_brute", SimilarityQueries.knnJoinBrute,
      s"""WITH $vembCte,
        |qv AS (
        |  SELECT vec_id AS query_id, embedding AS q FROM vemb
        |  WHERE vec_id % ${SimilarityQueries.KnnQueryMod} = 0),
        |cand AS (
        |  SELECT qv.query_id, e.vec_id, ${ce4Sql("e.embedding", "qv.q")}
        |    AS cos_e4
        |  FROM vemb e, qv
        |  WHERE e.vec_id % ${SimilarityQueries.KnnQueryMod} <> 0)
        |SELECT query_id, vec_id, cos_e4, rank FROM (
        |  SELECT query_id, vec_id, cos_e4,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_e4 DESC, vec_id) AS rank
        |  FROM cand)
        |WHERE rank <= ${SimilarityQueries.KnnK}
        |ORDER BY query_id, rank""".stripMargin, ceilingSec = 3.0),
    // q52: DuckDB recomputes the SemDeDup pipeline independently — it
    // re-RUNS the same deterministic Lloyd training as q51's oracle
    // ([[ivfLloydCtes]]) for the cell assignment, then the within-cell
    // pair scan and the keep-first (lowest vec_id survives) drop rule.
    Query("q52_semdedup", SimilarityQueries.semDedup,
      s"""WITH $ivfLloydCtes,
        |emb2 AS (
        |  SELECT e.vec_id, e.label, e.embedding, CAST(a.cell AS BIGINT)
        |    AS cell
        |  FROM embeddings e JOIN asnF a ON a.vec_id = e.vec_id),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM emb2 a JOIN emb2 b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${ce4Sql("a.embedding", "b.embedding")} >=
        |    ${SimilarityQueries.SemDedupTau})
        |SELECT e.vec_id, e.label, CAST(coalesce(a.cell, 0) AS BIGINT)
        |  AS cell
        |FROM embeddings e LEFT JOIN asnF a ON a.vec_id = e.vec_id
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
        |ORDER BY e.vec_id""".stripMargin, ceilingSec = 4.0),
    // multimodal binary columns: q27 byte-level blob plumbing (frame
    // sampling over opaque payloads), q66 REAL PNG decode via JDK ImageIO
    Query("q27_media_features", MultimodalQueries.mediaFeatures,
      """SELECT doc_id,
        | CAST(coalesce(octet_length(encode(text)), 0) AS BIGINT)
        |   AS n_bytes,
        | CAST(16 + abs(doc_id*2654435761) % 1024 AS INT) AS width,
        | CAST(16 + abs(doc_id*40503) % 1024 AS INT) AS height,
        | CAST(coalesce(octet_length(encode(text)), 0) AS BIGINT)
        |   AS hist_total,
        | CAST(CASE WHEN coalesce(octet_length(encode(text)), 0)//64 = 0
        |   THEN 0
        |   ELSE (octet_length(encode(text))//64 + 3) // 4 END AS BIGINT)
        |   AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin, ceilingSec = 3.0),
    // q66: the oracle recomputes the DECODED image stats straight from
    // the SQL-expressible pixel spec (ImageSpec scaladoc) — PNG is
    // lossless RGB, so Spark's real encode→ImageIO.read→sum round trip
    // must land on exactly these values.
    Query("q66_image_decode", MultimodalQueries.imageDecode,
      """SELECT d.doc_id,
        | CAST(4 + d.doc_id % 13 AS INT) AS width,
        | CAST(4 + d.doc_id % 11 AS INT) AS height,
        | CAST(SUM((31*d.doc_id + 7*x.i + 13*y.i) % 256) AS BIGINT) AS r_sum,
        | CAST(SUM((17*d.doc_id + 11*x.i + 5*y.i) % 256) AS BIGINT) AS g_sum,
        | CAST(SUM((13*d.doc_id + 3*x.i + 29*y.i) % 256) AS BIGINT) AS b_sum
        |FROM documents d,
        | generate_series(0, 15) x(i),
        | generate_series(0, 13) y(i)
        |WHERE x.i < 4 + d.doc_id % 13 AND y.i < 4 + d.doc_id % 11
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin, ceilingSec = 3.0),
    Query("q28_api_lookup", CoreQueries.apiLookup,
      ("""WITH hits AS (
        |  SELECT r.doc_id, r.variant_rank,
        |    regexp_extract(i.atom_xml, 'arxiv\.org/abs/(\d+\.\d+)', 1)
        |      AS arxiv_id,
        |    row_number() OVER (PARTITION BY r.doc_id ORDER BY r.variant_rank)
        |      AS rn
        |  FROM '""" + OracleTables + """/api_requests/*.parquet' r
        |  JOIN '""" + OracleTables + """/api_index/*.parquet' i
        |    ON r.variant = i.variant)
        |SELECT doc_id, variant_rank, arxiv_id FROM hits
        |WHERE rn = 1 ORDER BY doc_id""").stripMargin, ceilingSec = 3.0),
    Query("q29_numeric_sort", CoreQueries.numericSort,
      """SELECT doc_id, name, num_key FROM (
        |  SELECT doc_id, source || '_' || lang AS name,
        |    CAST(coalesce(nullif(regexp_extract(source || '_' || lang,
        |      '\d+'), ''), '9223372036854775807') AS BIGINT) AS num_key
        |  FROM documents) t
        |ORDER BY num_key, name, doc_id LIMIT 500""".stripMargin),
    // ICLR end-to-end: S6 saved-html files → lookaround regex extract
    Query("q50_iclr_pdf_links", CrawlPipelines.iclrRecords,
      // file_name twin of Scala's link.split('=').last: String.split DROPS
      // trailing empty segments, so strip trailing '='s (rtrim) before
      // taking the last '='-free suffix — '([^=]*)$' alone would diverge
      // on a link ending in '=' (Spark '?id.pdf' vs DuckDB '.pdf')
      (s"""WITH l AS (
        |  SELECT year, regexp_extract_all(html,
        |    'href="/pdf(.+?)" class="pdf-link', 1) AS links
        |  FROM '$OracleTables/iclr_pages/*.parquet'),
        |u AS (SELECT year, unnest(links) AS link,
        |        CAST(generate_subscripts(links, 1) AS BIGINT) AS ord FROM l)
        |SELECT year, ord, 'https://openreview.net/pdf' || link AS download_url,
        |  regexp_extract(rtrim(link, '='), '([^=]*)${"$"}', 1) || '.pdf'
        |    AS file_name
        |FROM u ORDER BY year, ord""").stripMargin),
    // q47/q49 are ordinary sfDir queries (zotero / youtube) — listed
    // BEFORE the crawl family despite their numbers, per the ordering
    // contract above
    Query("q47_zotero_priority", CoreQueries.zoteroPriorityDedup,
      """WITH items AS (
        |  SELECT doc_id, source, substring(text, 1, 40) AS title,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
        |      w -> w IN ('spark','stream','skew','shuffle','robust')) AS tags
        |  FROM documents),
        |flagged AS (
        |  SELECT *,
        |    list_filter(tags, w -> w IN ('spark','skew')) AS top_tags,
        |    list_filter(tags, w -> w = 'stream') AS survey_tags,
        |    list_filter(tags, w -> w NOT IN ('spark','skew')
        |      AND w <> 'stream') AS other_tags
        |  FROM items),
        |best AS (
        |  SELECT *, CASE WHEN len(survey_tags) > 0 THEN 1
        |    WHEN len(top_tags) > 0 THEN 2
        |    WHEN len(other_tags) > 0 THEN 3 END AS best
        |  FROM flagged),
        |ranked AS (SELECT * FROM best WHERE best IS NOT NULL),
        |sec AS (SELECT title, min(best) AS section_no FROM ranked
        |  GROUP BY title),
        |qual AS (
        |  SELECT b.*, s.section_no FROM ranked b
        |  JOIN sec s ON b.title = s.title
        |  WHERE CASE s.section_no WHEN 1 THEN len(b.survey_tags) > 0
        |    WHEN 2 THEN len(b.top_tags) > 0
        |    ELSE len(b.other_tags) > 0 END),
        |reps AS (SELECT title, section_no, min(doc_id) AS rep_doc
        |  FROM qual GROUP BY 1, 2)
        |SELECT
        |  CASE r.section_no WHEN 1 THEN 'survey'
        |    WHEN 2 THEN 'top_conference' ELSE 'other' END AS section,
        |  r.title, r.rep_doc,
        |  coalesce(array_to_string(b.top_tags, ', '), '') AS conf,
        |  '【】' || r.title || ' (' ||
        |    CASE WHEN len(b.top_tags) > 0
        |      THEN array_to_string(b.top_tags, ', ') || ' ' || b.source
        |      ELSE b.source END || ')' AS line
        |FROM reps r JOIN ranked b
        |  ON b.doc_id = r.rep_doc AND b.title = r.title
        |ORDER BY r.section_no, r.rep_doc""".stripMargin),
    Query("q49_youtube_api", CoreQueries.youtubeSearch,
      """SELECT source AS query,
        |  substring(text, 1, 30) AS title,
        |  substring(text, 1, 80) AS description,
        |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS published_at,
        |  'vid' || doc_id AS video_id
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY doc_id) AS rn FROM documents) t
        |WHERE rn <= 3 ORDER BY query, video_id""".stripMargin),
    // crawl-engine pipelines (§3.1-3.3) over the deterministic synthetic
    // web: the DuckDB side re-aggregates the records/fetch_log tables
    // Verify dumps to the OracleTables directory (the crawl itself is
    // checked against the sequential simulator in CrawlLoopSpec; these
    // check every AGGREGATION over its outputs)
    Query("q40_crawl_flagship", CrawlPipelines.flagship,
      s"""SELECT url, label, title, abstract_text, crawl_rank
        |FROM '$OracleTables/records/*.parquet'
        |ORDER BY crawl_rank""".stripMargin),
    Query("q41_crawl_digest", CrawlPipelines.digest,
      s"""SELECT crawl_rank >> 50 AS seed, count(*) AS n_papers,
        |  CAST(sum(length(extracted_md)) AS BIGINT) AS digest_len
        |FROM '$OracleTables/records/*.parquet'
        |WHERE extracted_md <> '' GROUP BY 1 ORDER BY seed""".stripMargin),
    Query("q42_crawl_label_counts", CrawlPipelines.labelCounts,
      s"""SELECT label, count(*) AS n
        |FROM '$OracleTables/records/*.parquet'
        |WHERE label <> '' GROUP BY label ORDER BY label""".stripMargin),
    Query("q43_crawl_host_metrics", CrawlPipelines.hostMetrics,
      s"""SELECT host, wave, count(*) AS fetches,
        |  CAST(sum(CASE WHEN status=200 THEN 1 ELSE 0 END) AS BIGINT) AS ok,
        |  CAST(sum(CASE WHEN status=503 THEN 1 ELSE 0 END) AS BIGINT) AS retryable,
        |  CAST(sum(CASE WHEN status=404 THEN 1 ELSE 0 END) AS BIGINT) AS missing
        |FROM '$OracleTables/fetch_log/*.parquet'
        |GROUP BY host, wave ORDER BY host, wave""".stripMargin),
    Query("q44_crawl_citations", CrawlPipelines.citations,
      s"""SELECT label AS id, title, url
        |FROM '$OracleTables/records/*.parquet'
        |WHERE parser = 'cite' ORDER BY id, url""".stripMargin),
    Query("q45_listing_digest", CrawlPipelines.listingDigest,
      s"""WITH listings AS (
        |  SELECT crawl_rank >> 50 AS seed, title AS date
        |  FROM '$OracleTables/records/*.parquet'
        |  WHERE label = 'listing'),
        |papers AS (
        |  SELECT crawl_rank >> 50 AS seed, count(*) AS n_papers,
        |    CAST(sum(length(extracted_md)) AS BIGINT) AS digest_len
        |  FROM '$OracleTables/records/*.parquet'
        |  WHERE url LIKE 'https://arxiv.org/%' GROUP BY 1)
        |SELECT l.seed, l.date, coalesce(p.n_papers, 0) AS n_papers,
        |  coalesce(p.digest_len, 0) AS digest_len
        |FROM listings l LEFT JOIN papers p ON l.seed = p.seed
        |ORDER BY l.seed""".stripMargin),
    // conference + repo-search parser families (ICRA/ISCA/getrepository)
    Query("q46_conference_records", CrawlPipelines.conferenceRecords,
      s"""SELECT parser, url, doi, label, title, crawl_rank
        |FROM '$OracleTables/records/*.parquet'
        |WHERE parser IN ('icra', 'isca', 'icml', 'cvf') ORDER BY crawl_rank""".stripMargin),
    Query("q48_repo_search", CrawlPipelines.repoRecords,
      s"""SELECT label, title, url, crawl_rank
        |FROM '$OracleTables/records/*.parquet'
        |WHERE parser = 'repo' ORDER BY crawl_rank""".stripMargin)
  )
}
