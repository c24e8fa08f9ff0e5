package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** SparkSessionExtensions entry point and the one registration of graft's
  * SQL functions. At session build it injects every `graft.functions`
  * kernel whose arguments are all columns, under the facade's name, plus
  * the `BoundedLevenshteinRewrite` optimizer rule, so a cluster deploy
  * needs only
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * and `SELECT jaro_winkler(a, b) ...` works from plain SQL / thrift /
  * notebooks with no library calls. `winnow_fps` is Column-API only: its
  * window parameters `w` and `k` are Scala `Int`s fixed when the
  * expression is built, not SQL arguments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    // lev(a,b) <= k → banded 3-arg form (O(n·k) + early exit)
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRewrite)
  }
}

object GraftExtensions {
  /** SQL name → expression builder, one entry per column-only facade
    * kernel; each name is its expression's `prettyName`. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "normalize_text" -> (es => NormalizeText(es(0))),
    "match_key" -> (es => MatchKey(es(0))),
    "trigram_keys" -> (es => TrigramKeys(es(0))),
    "trigram_strings" -> (es => TrigramStrings(es(0))),
    "script_counts" -> (es => ScriptCounts(es(0))),
    "profile_hits" -> (es => ProfileHits(es(0))),
    "double_metaphone" -> (es => DoubleMetaphoneKey(es(0))),
    "sift4_cp" -> (es => Sift4CpDist(es(0), es(1))),
    "accept_gate" -> (es => AcceptGateExpr(es(0), es(1))),
    "bounded_levenshtein" -> (es => BoundedLevenshtein(es(0), es(1))),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "ref_match_score" -> (es => RefMatchScore(es(0), es(1))),
    "ref_match_score_pre" -> (es => RefMatchScorePre(es(0), es(1))),
    "ref_best_phrase" -> (es => RefBestPhrase(es(0), es(1), es(2))),
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "point_in_ring" -> (es => PointInRing(es(0), es(1), es(2))),
    "polyline_dist2" -> (es => PolylineDist2(es(0), es(1), es(2))),
    "lsh_band_vals" -> (es => LshBandVals(es(0))),
    "minhash_md5" -> (es => MinhashMd5(es(0))),
    "minhash_xx" -> (es => MinhashXx(es(0))),
    "shingle_hashes" -> (es => ShingleHashes(es(0))),
    "area_fold" -> (es => AreaFold(es(0), es(1), es(2), es(3))),
    "format_address" -> (es => FormatAddress(es)),
    "html_text" -> (es => HtmlText(es(0))),
    "html_links" -> (es => HtmlLinks(es(0))),
    "block_pairs" -> (es => BlockPairs(es(0), es(1)))
  )
}
