package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, MinHash signatures, SimHash, Jaccard,
  * fingerprinting, language-ID scoring and quality features.
  *
  * All of these are pure Catalyst expression combinators (higher-order
  * array functions, codegen-friendly) — no UDFs, no driver-side loops, so
  * they vectorize inside whole-stage codegen and scale linearly per
  * partition. Counterpart surfaces in the reference: fulltext tokenizer
  * (`pkg/monlp/tokenizer/`), `pkg/fulltext/` scoring.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Sorted distinct word n-gram shingles — native one-shot kernel
    * ([[WordShinglesExpr]]).
    */
  def wordShingles(tk: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
    asCol(WordShinglesExpr(asExpr(tk), n))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays.
    * |A∪B| is derived as |A|+|B|-|A∩B| — one set operation per pair
    * instead of two (2× cheaper in the all-pairs hot path).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** Jaccard for SORTED distinct arrays: two-pointer native kernel
    * ([[SortedIntersectCountExpr]]) — no per-pair hash set allocation.
    * Use in all-pairs hot paths where inputs are pre-sorted once.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
    val inter = asCol(graft.functions.SortedIntersectCountExpr(asExpr(a), asExpr(b)))
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** MinHash signature: k permutation-min approximations. Each shingle is
    * string-hashed ONCE (xxhash64), then the k "permutations" are cheap
    * universal-hash mixes of the 32-bit base — 64 multiply-adds instead of
    * 64 string hashes per shingle (the classic a·x+b trick; overflow-free
    * in the 2^32 × small-constant range, so no ANSI wrap dependence).
    */
  def minhashSignature(shingles: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
    asCol(MinHashSignatureExpr(asExpr(shingles), k))
  }

  /** k permutation-mins over precomputed bases: affine permutations mod
    * prime ((a_i·x + b_i) mod p is 2-universal; a plain a·x+b WITHOUT the
    * mod is order-preserving — every "min" would pick the same shingle).
    * Products stay ≤ 2^40: no overflow.
    */
  def minhashSignatureFromBases(bases: Column, k: Int): Column = {
    val p = lit(1000000007L)
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(bases,
        h => pmod(h * (i * 2 + 1) + i * lit(2654435761L), p))))
  }

  /** LSH bucket keys: the signature split into `bands` bands of `rows`
    * hashes, each band keyed by a 64-bit hash of its slice rather than
    * the joined `h1_h2_…` string — the key flows through an exchange, a
    * self-join and a distinct, and a long is narrower and cheaper to
    * compare than the ~80-char concat (guide §2.3).
    *
    * Equal slices always get equal keys, so a collision never splits a
    * true bucket; it can only merge two buckets into one. Candidates
    * are verified by exact Jaccard/Hamming downstream, so a merged
    * bucket adds no false output. It can lose true pairs, though: the
    * `Dedup` guard `_bucket_n <= maxBucket` drops a merged bucket whose
    * combined size passes the cap even when each true bucket is under
    * it. With 64-bit keys that needs a collision among one band's keys,
    * which is negligible below billions of distinct slices per band.
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows))))

  /** Hamming distance between two bit arrays. */
  def hammingBits(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0L), (acc, x) => acc + x)

  /** 64-bit SimHash as a 64-element 0/1 array. The per-token hash is the
    * md5 digest's second half read little-endian — exactly DuckDB's
    * `md5_number_lower`, so an oracle can re-derive every signature bit in
    * SQL and hash-compare the near-dup pair set across engines. Bit b
    * votes +1/−1 by the b-th bit of each token's hash; tie (sum 0)
    * resolves to 0.
    */
  def simhashBitsMd5(tk: Column): Column = {
    // per-token little-endian byte values of digest bytes 8..15
    val tokBytes = transform(tk, t => {
      val h = substring(md5(t), 17, 16)
      transform(sequence(lit(0), lit(7)),
        k => conv(h.substr(k * 2 + lit(1), lit(2)), 16, 10).cast("long"))
    })
    transform(sequence(lit(0), lit(63)), j => {
      val byteIdx = floor(j.cast("double") / 8.0).cast("int") + 1
      val bitInByte = pmod(j, lit(8)).cast("int")
      val votes = aggregate(tokBytes, lit(0L), (acc, by) =>
        acc + when(
          pmod(floor(element_at(by, byteIdx) / pow(lit(2.0), bitInByte)), lit(2L)) === 1L,
          lit(1L)).otherwise(lit(-1L)))
      when(votes > 0, lit(1L)).otherwise(lit(0L))
    })
  }

  /** Deterministic document fingerprint: md5 of whitespace-normalized
    * lowercase text (cross-engine reproducible).
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Number of tokens matched against a stopword list (with multiplicity). */
  def stopwordHits(tk: Column, stopwords: Seq[String]): Column =
    size(filter(tk, t => array_contains(array(stopwords.map(lit): _*), t)))

  /** Language-ID stopword tables (tiny n-gram-free heuristic). */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "with", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "auf", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "un", "une", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "de", "un", "una", "con"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Predicted language: argmax of stopword hit counts (first language in
    * table order wins ties; "und" = undetermined when no hits at all).
    */
  def langId(tk: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
    asCol(LangIdExpr(asExpr(tk), langStopwords))
  }

  /** BPE-ish token-count estimate: whitespace words + punctuation marks +
    * a length penalty for long words (≈ chars/4 extra sub-tokens).
    */
  def tokenEstimate(c: Column): Column = {
    val tk = tokens(c)
    val punct = size(split(c, "[\\.,;:!\\?]")) - 1
    val longWordExtra = aggregate(tk, lit(0L),
      (acc, t) => acc + greatest(ceil(length(t) / 4.0).cast("long") - 1, lit(0L)))
    (size(tk) + punct + longWordExtra).cast("long")
  }
}
