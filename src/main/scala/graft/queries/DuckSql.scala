package graft.queries

import graft.functions.OracleRound
import graft.operators.TextAnalysis

/** DuckDB SQL fragments that the oracles of several query families share,
  * plus the data-dir naming rule every published artifact's slug uses.
  */
private[queries] object DuckSql {

  /** The scale-factor directory name (`sf0.01`) a data dir ends in. */
  def sfOf(d: String): String = d.split('/').last

  /** `OracleRound.duck` at the digits the Spark side rounds to. */
  def r4(e: String): String = OracleRound.duck(e, 4)
  def r6(e: String): String = OracleRound.duck(e, 6)
  def r9(e: String): String = OracleRound.duck(e, 9)

  /** Exact word-shingle jaccard pairs (threshold 0.5) — the oracle for
    * BOTH dedup_ngram_jaccard (computes exactly this) and
    * dedup_minhash_lsh (LSH candidates + exact verification ≡ the same
    * set at banding recall 1.0).
    */
  def exactJaccardOracle: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                                   for i in range(1, len(toks) - 1)])) AS sh
       |      FROM t),
       |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id)
       |SELECT * FROM (
       |  SELECT doc_a, doc_b,
       |         CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
       |  FROM p
       |  JOIN sz na ON na.doc_id = doc_a
       |  JOIN sz nb ON nb.doc_id = doc_b)
       |WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The language-ID oracle pieces over `TextAnalysis.langMarkers`: one
    * `s_<lang>` column per language (`overlap` spells its marker-overlap
    * count for the marker-list literal), their `greatest(...)`, and the
    * `WHEN s_<lang> = best THEN '<lang>'` arms in marker order.
    */
  def langs: Seq[String] = TextAnalysis.langMarkers.map(_._1)
  def langScoreCols(overlap: String => String): String =
    TextAnalysis.langMarkers.map { case (l, ws) =>
      s"${overlap(ws.map(w => s"'$w'").mkString("[", ", ", "]"))} AS s_$l"
    }.mkString(",\n       ")
  def langBest: String = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
  def langCaseArms: String =
    langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString("\n            ")

  /** DuckDB expression for TextAnalysis.normalize / tokens (kept adjacent to
    * the Spark definitions so the two dialects stay in lock-step).
    */
  def duckNorm: String =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  def duckToks: String =
    s"string_split($duckNorm, ' ')"

  /** Shared 52-bit md5 hex fold (the engine's deterministic uniform) —
    * one definition for every oracle that embeds it. The embedded margins
    * survive the caller's stripMargin unchanged.
    */
  def duckHexFold(expr: String): String =
    s"""CAST(list_reduce(
       |           [CAST(strpos('0123456789abcdef',
       |                        substr(md5($expr), hd, 1)) - 1 AS BIGINT)
       |            for hd in range(1, 14)],
       |           (a, cc) -> a * 16 + cc) AS BIGINT)"""

  /** Each embedding as `DOUBLE[]` (`e`) with its L2 norm `nrm` (`n`). */
  def embNormCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |             sqrt(list_reduce([x * x for x in v], (x, y) -> x + y)) AS nrm
      |      FROM e)"""
}
