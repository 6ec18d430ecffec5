package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One named engine query plus (optionally) its ANSI-SQL oracle form for the
  * driver's DuckDB compare (SURVEY.md §5.2#1). Queries without SQL get the
  * weaker rows-only check and must carry a ScalaTest spec instead. `needs`
  * lists every [[Artifact]] the query reads directly; `graft.Verify`
  * reports a read it does not list.
  */
final case class OracleQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String],
    needs: Seq[Artifact[_]] = Nil)

trait QueryPack {
  def all: Seq[OracleQuery]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  final def oracle: Map[String, String] =
    all.flatMap(q => q.sql.map(q.name -> _)).toMap
}

/** Cross-engine bit-exactness conventions shared by all oracle queries.
  *
  * Float/double aggregation order differs between Spark and DuckDB, so a raw
  * `SUM(double)` is not hash-stable (SURVEY.md §7.3). Convention: evaluate the
  * per-row expression in DOUBLE (IEEE ops are order-free and identical in both
  * engines), cast each term to an exact DECIMAL at the aggregation boundary
  * (same rounding of the same double in both engines), SUM exactly, and cast
  * the exact result back to DOUBLE (single deterministic rounding). Divisions
  * and sqrt happen after, in double, and are IEEE-identical.
  */
object Exact {
  /** Order-insensitive, cross-engine-exact sum of a double expression. */
  def dsum(c: Column, p: Int = 27, s: Int = 6): Column =
    sum(c.cast(DecimalType(p, s))).cast(DoubleType)

  /** Exact average = exact sum / count, divided in double. */
  def davg(c: Column, p: Int = 27, s: Int = 6): Column =
    dsum(c, p, s) / count(lit(1))

  /** SQL text of dsum for the DuckDB oracle side. */
  def DSUM(e: String, p: Int = 27, s: Int = 6): String =
    s"CAST(SUM(CAST($e AS DECIMAL($p,$s))) AS DOUBLE)"

  def DAVG(e: String, p: Int = 27, s: Int = 6): String =
    s"${DSUM(e, p, s)} / COUNT(*)"

  /** SQL twin of [[graft.functions.TextOps.redactPii]] — email, IPv4, then
    * long digit runs. ONE definition feeding every oracle that redacts, so
    * a pattern change cannot drift between twins.
    */
  def REDACT(e: String): String =
    s"""regexp_replace(
      regexp_replace(
        regexp_replace($e,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
      '[0-9]{7,}', '<NUM>', 'g')"""

  /** Shared CTE chain `d, bigr, r` for the curation rule pack: word/char
    * profile, per-doc bigram counts, and the Gopher-keep ∧ dup-fraction
    * boolean — the SQL twin of `TextOps.gopherRules(...).keep &&
    * TextOps.bigramDupFraction(...) <= 0.4`, defined ONCE for the batch
    * report and the streaming twin (their rule outcomes must never drift,
    * mirroring the shared Scala expression). `where` filters the documents
    * scan ("" = all).
    */
  def CURATION_RULES_CTES(where: String): String =
    s"""d AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS words,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) AS n_chars
      FROM documents $where
    ), bigr AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct
      FROM (
        SELECT a.doc_id, a.w || ' ' || b.w AS gram
        FROM (SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM d) a
        JOIN (SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM d) b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1)
      GROUP BY doc_id
    ), r AS (
      SELECT d.doc_id, d.source, d.text, d.words,
        (d.n_words BETWEEN 10 AND 1000
         AND d.n_chars / CAST(d.n_words AS DOUBLE) >= 2.0
         AND d.n_chars / CAST(d.n_words AS DOUBLE) <= 10.0
         AND CAST(len(list_filter(d.words, x -> regexp_matches(x, '[#_{}]'))) AS DOUBLE)
           <= CAST(d.n_words AS DOUBLE) * 0.1
         AND CAST(len(list_filter(d.words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           >= CAST(d.n_words AS DOUBLE) * 0.8
         AND CAST(len(list_filter(d.words,
           x -> x IN ('the','and','of','to','a','in','that','for'))) AS BIGINT) >= 2
         AND (CASE WHEN COALESCE(bigr.n_grams, 0) = 0 THEN 0.0
              ELSE 1.0 - CAST(bigr.n_distinct AS DOUBLE) / CAST(bigr.n_grams AS DOUBLE)
              END) <= 0.4) AS keep
      FROM d LEFT JOIN bigr ON d.doc_id = bigr.doc_id
    )"""

  /** The unrolled conjugate-gradient round chain shared by the linear
    * solvers' oracles (`vx_linear_probe_quantized`,
    * `t_quality_classifier_select`): expects CTEs `a(i, j, ad)` (the
    * ridge normal matrix) and `w_0 / r_0 / p_0 / rs_0` (the CG start
    * state) to be in scope, and emits `ap_k … p_k` for k = 1..rounds —
    * the SQL mirror of `LinearProbe.fitCg`'s per-round algebra, defined
    * ONCE so the two replays can never drift. All reductions pass the
    * DECIMAL(38,18) boundary; rounds MATERIALIZED against DuckDB's
    * exponential CTE inlining (the round-7 lesson).
    */
  def CG_ROUNDS_CTES(rounds: Int): String = {
    def ds(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(38,18))) AS DOUBLE)"
    (1 to rounds).map { k =>
      val (pw, pr, pp, prs) =
        (s"w_${k - 1}", s"r_${k - 1}", s"p_${k - 1}", s"rs_${k - 1}")
      s"""ap_$k AS MATERIALIZED (
      SELECT a.i, ${ds("a.ad * p.x")} AS x
      FROM a JOIN $pp p ON a.j = p.i GROUP BY a.i
    ), pap_$k AS MATERIALIZED (
      SELECT ${ds("p.x * ap.x")} AS v
      FROM $pp p JOIN ap_$k ap ON ap.i = p.i
    ), al_$k AS MATERIALIZED (
      SELECT CASE WHEN pap_$k.v = 0 THEN 0.0 ELSE $prs.v / pap_$k.v END
        AS a
      FROM $prs, pap_$k
    ), w_$k AS MATERIALIZED (
      SELECT w.i, w.x + al_$k.a * p.x AS x
      FROM $pw w JOIN $pp p ON p.i = w.i CROSS JOIN al_$k
    ), r_$k AS MATERIALIZED (
      SELECT r.i, r.x - al_$k.a * ap.x AS x
      FROM $pr r JOIN ap_$k ap ON ap.i = r.i CROSS JOIN al_$k
    ), rs_$k AS MATERIALIZED (
      SELECT ${ds("x * x")} AS v FROM r_$k
    ), be_$k AS MATERIALIZED (
      SELECT CASE WHEN $prs.v = 0 THEN 0.0 ELSE rs_$k.v / $prs.v END AS b
      FROM rs_$k, $prs
    ), p_$k AS MATERIALIZED (
      SELECT r.i, r.x + be_$k.b * p.x AS x
      FROM r_$k r JOIN $pp p ON p.i = r.i CROSS JOIN be_$k
    )"""
    }.mkString(", ")
  }

  /** SQL twin of [[graft.operators.Dedup.polyHash31]]: polynomial
    * code-point hash (Java `String.hashCode` recurrence) reduced mod
    * 2^31−1 at every step — h·31 + c < 2^36, so no overflow on either
    * engine, and DuckDB's `unicode()` per split character matches the
    * JVM code-point loop exactly (DedupSpec pins the twin on hostile
    * unicode input).
    */
  def POLYHASH31(e: String): String = POLYHASH("31", e)

  /** [[POLYHASH31]] with a caller-chosen multiplier expression (the CMS
    * grid uses a distinct multiplier per sketch row). The `c <> ''`
    * guard handles the empty string: DuckDB's string_split('','') yields
    * [''] with unicode('') = −1, which would poison the fold — filtered,
    * the fold returns 0, exactly the JVM loop's empty-input value.
    */
  def POLYHASH(m: String, e: String): String =
    s"""list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        [CAST(unicode(c) AS BIGINT) FOR c IN string_split($e, '') IF c <> '']),
      (h, c) -> (h * ($m) + c) % 2147483647)"""

  /** Shared CTE prefix replaying
    * [[graft.operators.Dedup.minhashSignatures]] (numHashes=32, word
    * 3-shingles) over the `documents` table: shingles → per-shingle
    * [[POLYHASH31]] → 32 affine permutation mins → per-doc signature →
    * 8-band 4-element slices. The band bucket needs no xxhash64 replay:
    * bucket equality IS slice equality, so consumers join on the slices
    * themselves. Ends with `banded` (doc_id, b, sl, sig).
    */
  def MINHASH_SIG_CTES: String = MINHASH_SIG_CTES_FROM("documents")

  /** [[MINHASH_SIG_CTES]] over an arbitrary (doc_id, text) relation —
    * the curation-funnel oracle signs its own survivor CTE.
    */
  def MINHASH_SIG_CTES_FROM(rel: String): String =
    s"""w AS (
      SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS w
      FROM $rel
    ), shl AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
               JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ), bh AS (
      SELECT doc_id, ${POLYHASH31("sh")} AS base FROM shl
    ), perm(j, pa, pb) AS (
      VALUES ${(0 until 32).map(j =>
        s"($j, CAST(${graft.operators.Dedup.permA(j)} AS BIGINT), " +
          s"CAST(${graft.operators.Dedup.permB(j)} AS BIGINT))").mkString(", ")}
    ), mh AS (
      SELECT doc_id, j, MIN((pa * base + pb) % 2147483647) AS v
      FROM bh CROSS JOIN perm
      GROUP BY doc_id, j
    ), sig AS (
      SELECT doc_id, list(v ORDER BY j) AS sig FROM mh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, b, sig[b*4 + 1 : b*4 + 4] AS sl, sig
      FROM sig CROSS JOIN range(0, 8) AS t(b)
    )"""

  /** [[MINHASH_SIG_CTES]] plus the self-join candidate tail of
    * [[graft.operators.Dedup.minhashCandidates]] (bands=8, rowsPerBand=4,
    * maxBucketSize=1000): capped bucket equi-join → distinct pairs →
    * est_jaccard = agreeing-positions/32, an exact binary fraction —
    * bit-identical cross-engine, so threshold compares cannot flap.
    * Ends with a `prs` relation (id_a, id_b, est_jaccard).
    */
  def MINHASH_PAIRS_CTES: String =
    s"""$MINHASH_SIG_CTES, okb AS (
      SELECT b, sl FROM banded GROUP BY b, sl HAVING COUNT(*) <= 1000
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        x.sig AS sa, y.sig AS sb
      FROM banded x
      JOIN okb o ON o.b = x.b AND o.sl = x.sl
      JOIN banded y ON y.b = x.b AND y.sl = x.sl AND x.doc_id < y.doc_id
    ), prs AS (
      SELECT id_a, id_b,
        CAST(len(list_filter(range(1, 33), i -> sa[i] = sb[i])) AS DOUBLE)
          / 32.0 AS est_jaccard
      FROM cand
    )"""

  /** SQL twin of [[graft.operators.Dsir.fnv1a]]: 64-bit FNV-1a replayed
    * in DuckDB HUGEINT arithmetic — xor per code point, wrapping multiply
    * as mod-2^64 (product < 2^104 fits signed 128-bit). The `c <> ''`
    * guard mirrors [[POLYHASH]]'s empty-string handling.
    */
  def FNV1A64(e: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      [CAST(unicode(c) AS HUGEINT) FOR c IN string_split($e, '') IF c <> '']),
      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)"""

  /** (a · b) mod 2^64 for a HUGEINT `a` < 2^64 and a CONSTANT b < 2^64,
    * via a 32-bit limb split: HUGEINT is signed 128-bit, so the direct
    * product of two 2^64-scale values overflows; each limb product stays
    * < 2^96. The HUGEINT twin of the [[KNUTH32]] trick.
    */
  def MULMOD64(a: String, b: String): String = {
    val m64 = "18446744073709551616"
    val m32 = "4294967296"
    s"((((($a) // $m32) * ($b)) % $m32) * $m32 + (($a) % $m32) * ($b)) % $m64"
  }

  /** Shared CTE chain replaying [[graft.operators.Cdc.chunkDocuments]]
    * (window=4, modulus=16, minLen=8, maxLen=64) over `documents`: the
    * JVM's rolling hash telescopes to a pure 4-term window polynomial
    * (h_i = Σ_j hv(i−j)·B^j mod 2^64 — the subtract-the-outgoing-token
    * update is exactly this closed form), so per-position hashes come
    * from three self-joins; boundary chaining is a recursive CTE over
    * precomputed next-zero-position lookups (no aggregates in the
    * recursive term). Requires WITH RECURSIVE. Ends with `chunks`
    * (doc_id, chunk_idx, token_start, n_tokens, chunk_text).
    */
  def CDC_CHUNKS_CTES: String = {
    val B = 1000003L
    val B2 = B * B // < 2^40, exact
    val B3 = BigInt(B).pow(3) // < 2^60, exact
    s"""toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk,
        len(list_filter(string_split(text, ' '), t -> t <> '')) AS n
      FROM documents
    ), cvocab AS MATERIALIZED (
      SELECT w, ${FNV1A64("w")} AS f
      FROM (SELECT DISTINCT unnest(tk) AS w FROM toks)
    ), posf AS MATERIALIZED (
      SELECT p.doc_id, p.i, v.f FROM (
        SELECT t.doc_id, i - 1 AS i, t.tk[i] AS w
        FROM toks t, LATERAL unnest(range(1, n + 1)) u(i)) p
      JOIN cvocab v ON v.w = p.w
    ), hh AS MATERIALIZED (
      SELECT p0.doc_id, p0.i,
        (p0.f + COALESCE(${MULMOD64("p1.f", B.toString)}, 0)
         + COALESCE(${MULMOD64("p2.f", B2.toString)}, 0)
         + COALESCE(${MULMOD64("p3.f", B3.toString)}, 0))
          % 18446744073709551616 AS h
      FROM posf p0
      LEFT JOIN posf p1 ON p1.doc_id = p0.doc_id AND p1.i = p0.i - 1
      LEFT JOIN posf p2 ON p2.doc_id = p0.doc_id AND p2.i = p0.i - 2
      LEFT JOIN posf p3 ON p3.doc_id = p0.doc_id AND p3.i = p0.i - 3
    ), nz AS MATERIALIZED (
      SELECT doc_id, i, MIN(CASE WHEN h % 16 = 0 THEN i END)
        OVER (PARTITION BY doc_id ORDER BY i ASC
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS zge
      FROM hh
    ), bnd AS MATERIALIZED (
      SELECT x.doc_id, x.p,
        CASE WHEN LEAST(COALESCE(z.zge, 9223372036854775807), x.p + 63)
                    <= x.n - 1
             THEN LEAST(COALESCE(z.zge, 9223372036854775807), x.p + 63)
             END AS b
      FROM (SELECT doc_id, n, unnest(range(0, n)) AS p FROM toks) x
      LEFT JOIN nz z ON z.doc_id = x.doc_id AND z.i = x.p + 7
    ), sp(doc_id, idx, start) AS (
      SELECT doc_id, 0, 0 FROM toks WHERE n > 0
      UNION ALL
      SELECT s.doc_id, s.idx + 1, bd.b + 1
      FROM sp s JOIN bnd bd ON bd.doc_id = s.doc_id AND bd.p = s.start
      JOIN toks t ON t.doc_id = s.doc_id
      WHERE bd.b IS NOT NULL AND bd.b < t.n - 1
    ), chunks AS (
      SELECT s.doc_id, s.idx AS chunk_idx, s.start AS token_start,
        COALESCE(bd.b, t.n - 1) - s.start + 1 AS n_tokens,
        array_to_string(t.tk[s.start + 1 : COALESCE(bd.b, t.n - 1) + 1], ' ')
          AS chunk_text
      FROM sp s JOIN toks t ON t.doc_id = s.doc_id
      JOIN bnd bd ON bd.doc_id = s.doc_id AND bd.p = s.start
    )"""
  }

  /** SQL twin of [[graft.operators.Dedup.knuth32]] for the DuckDB oracle:
    * (e * 2654435761) mod 2^32 via 16-bit limb split, so no intermediate
    * exceeds 2^49 — DuckDB errors on BIGINT overflow where Spark wraps, so
    * the naive product form diverges (or dies) past ids ~3.47e9. Assumes a
    * nonnegative id (true of every oracle table's keys).
    */
  def KNUTH32(e: String): String = {
    val id32 = s"(($e) % 4294967296)"
    s"(((($id32 >> 16) * 2654435761) % 4294967296) * 65536" +
      s" + (($id32 & 65535) * 2654435761)) % 4294967296"
  }
}
