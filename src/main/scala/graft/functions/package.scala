package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge

/** Column-API facade over the custom Catalyst expressions, mirroring
  * `org.apache.spark.sql.functions`. `graft.GraftExtensions` registers
  * the column-only kernels here under the same names for `spark.sql(...)`.
  */
package object functions {
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)
  private def ex(c: Column) = Bridge.expression(c)

  /** normalize (NFD+stripmark+casefold) + erase_fillers. */
  def normalize_text(c: Column): Column = col(NormalizeText(ex(c)))

  /** distinct space-free byte trigrams packed to 24-bit ints. */
  def trigram_keys(c: Column): Column = col(TrigramKeys(ex(c)))

  /** distinct space-free character trigram strings (one pass, O(n)). */
  def trigram_strings(c: Column): Column = col(TrigramStrings(ex(c)))

  /** per-Unicode-script codepoint counts, array<int>[11] (langid gate). */
  def script_counts(c: Column): Column = col(ScriptCounts(ex(c)))

  /** per-language profile-trigram hit counts over a distinct-trigram
    * array, array<int>[#languages] (slot order graft.text.LangProfiles.all). */
  def profile_hits(c: Column): Column = col(ProfileHits(ex(c)))

  /** fused winnowing fingerprint selection over a token array:
    * array<struct<fp, pos>> of selected window fingerprints (q59 core). */
  def winnow_fps(c: Column, w: Int, k: Int): Column = col(WinnowFps(ex(c), w, k))

  /** codepoint-level SIFT4, maxOffset=3, band min(len)/2+2 in codepoints
    * (score.h:75-79; ER accept gate — one typo = one edit on any script). */
  def sift4_cp(l: Column, r: Column): Column = col(Sift4CpDist(ex(l), ex(r)))

  /** the ER accept gate (graft.text.AcceptGate) on two match keys:
    * struct<tok_ok, accepted>. */
  def accept_gate(l: Column, r: Column): Column = col(AcceptGateExpr(ex(l), ex(r)))

  /** banded Levenshtein, 255 sentinel on overflow (score.h:15-57). */
  def bounded_levenshtein(l: Column, r: Column): Column =
    col(BoundedLevenshtein(ex(l), ex(r)))

  /** byte-based Jaro-Winkler, DuckDB-compatible. */
  def jaro_winkler(l: Column, r: Column): Column = col(JaroWinkler(ex(l), ex(r)))

  /** reference get_match_score; NULL = kNoMatch (score.h:162-269). */
  def ref_match_score(rawName: Column, normPhrase: Column): Column =
    col(RefMatchScore(ex(rawName), ex(normPhrase)))

  /** ref_match_score over an already-normalized name (skips re-normalize). */
  def ref_match_score_pre(normName: Column, normPhrase: Column): Column =
    col(RefMatchScorePre(ex(normName), ex(normPhrase)))

  /** fused score-matrix argmin: struct(score, pidx, bits) of the best
    * phrase for one name, NULL when all phrases are kNoMatch. */
  def ref_best_phrase(normName: Column, normPhrases: Column, bits: Column): Column =
    col(RefBestPhrase(ex(normName), ex(normPhrases), ex(bits)))

  /** Double Metaphone phonetic key. */
  def double_metaphone(c: Column): Column = col(DoubleMetaphoneKey(ex(c)))

  /** canonical match key (normalize + alt expansion, graft.text.MatchKeys). */
  def match_key(c: Column): Column = col(MatchKey(ex(c)))

  /** fused cosine similarity over array<double> columns. */
  def cosine_sim(l: Column, r: Column): Column = col(CosineSim(ex(l), ex(r)))

  /** exact point-in-polygon crossing number over a ring column. */
  def point_in_ring(ring: Column, x: Column, y: Column): Column =
    col(PointInRing(ex(ring), ex(x), ex(y)))

  /** exact point-to-polyline squared distance + closest point:
    * array<double>[3] = (dist2, closest_x, closest_y). */
  def polyline_dist2(line: Column, x: Column, y: Column): Column =
    col(PolylineDist2(ex(line), ex(x), ex(y)))

  /** fused q25 hyperplane-LSH band values: array<float|double>[64] → array<int>[8]. */
  def lsh_band_vals(v: Column): Column = col(LshBandVals(ex(v)))

  /** fused MinHash signature, oracle md5-hex family: norm text → array<string>[8]. */
  def minhash_md5(c: Column): Column = col(MinhashMd5(ex(c)))

  /** fused MinHash signature, production xxhash64 family: norm text → array<bigint>[8]. */
  def minhash_xx(c: Column): Column = col(MinhashXx(ex(c)))

  /** fused distinct shingle xxhash64 set: norm text → sorted array<bigint>. */
  def shingle_hashes(c: Column): Column = col(ShingleHashes(ex(c)))

  /** fused A6 greedy multi-language area-assembly fold: one codegen'd
    * kernel call per row replacing the interpreted aggregate/transform/
    * levenshtein HOF tree — struct<tok, amask, dist, alang>, never null.
    * See [[AreaFold]] for the exact semantics and the alang index space. */
  def area_fold(phrases: Column, areas: Column, langs: Column,
      initMask: Column): Column =
    col(AreaFold(ex(phrases), ex(areas), ex(langs), ex(initMask)))

  /** per-country address formatting (reference formatter.cc:87-159). */
  def format_address(houseNumber: Column, road: Column, postcode: Column,
      city: Column, country: Column, countryCode: Column): Column =
    col(FormatAddress(Seq(houseNumber, road, postcode, city, country, countryCode).map(ex)))

  /** HTML (binary or string) → visible text: tag strip, script/style/
    * comment skip, entity decode, whitespace collapse (graft.text.Html). */
  def html_text(c: Column): Column = col(HtmlText(ex(c)))

  /** `<a href>` outlinks of an HTML payload (binary or string), in
    * document order; comment/script/style bodies excluded. */
  def html_links(c: Column): Column = col(HtmlLinks(ex(c)))

  /** exactly-once pair emission for one blocking key: generator of
    * (src, dst) rows, src < dst, for the member pairs whose smallest
    * shared key is `key`; members that carry match keys and frequencies
    * also get each pair's accept-gate verdict — see [[BlockPairs]]. */
  def block_pairs(key: Column, members: Column): Column =
    col(BlockPairs(ex(key), ex(members)))
}
