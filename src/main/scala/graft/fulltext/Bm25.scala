package graft.fulltext

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Fulltext search: `MATCH(cols) AGAINST(query [IN NATURAL LANGUAGE MODE |
  * IN BOOLEAN MODE])` re-expressed as an inverted-index DataFrame plus a
  * BM25/TF-IDF scorer (reference: scoring `pkg/fulltext/fulltext.go:192-233`
  * with k1/b in `pkg/fulltext/types.go:19-20`; boolean-mode parser
  * `fulltext.go:731` with the operator table `types.go:127-135`:
  * TEXT STAR PLUS MINUS LESSTHAN GREATERTHAN RANKLESS GROUP PHRASE).
  *
  * Scale design: the posting list (term, doc_id, tf, positions) is the
  * canonical shuffle-by-term inverted index, built ONCE per corpus and
  * persisted ([[FulltextIndex.forCorpus]]) — the reference's model too,
  * where the fulltext index is a materialized table
  * (`pkg/sql/plan/apply_indices_fulltext.go`) — written partitioned by a
  * term-hash bucket, so an exact-term probe reads only its terms' files.
  * The corpus is never re-tokenized per query. A query has two
  * evaluators, sharing the parse, the leaves (tokenizers, weights,
  * phrase offsets) and the [[score]] formulas:
  *   - the driver evaluator, the reference's own shape (read the query
  *     terms' postings, score them in process — `fulltext_index_scan`,
  *     `pkg/fulltext/fulltext.go` — and join the scores back by key):
  *     ONE Spark job collects the probed postings, plain Scala scores
  *     them, and the result is a (doc_id, score) LocalRelation;
  *   - the DataFrame evaluators ([[searchBooleanNodes]],
  *     [[searchNaturalMo]]): a broadcast join of the query leaves
  *     against the postings, then shuffles and joins per node — several
  *     jobs per query, but no single process ever holds the postings.
  * [[matchAgainstMulti]], the SQL MATCH entry, picks the driver
  * evaluator when the probed buckets' written bytes (the exact terms'
  * buckets, or all of them once a STAR prefix is present) fit under
  * `spark.sql.autoBroadcastJoinThreshold` — the bound Spark itself uses
  * to collect a join side to the driver — and the DataFrame one
  * otherwise: at 100 TB a common term's postings do not fit one driver,
  * so the distributed plan stays (threshold -1 forces it).
  */
object Bm25 {

  val K1 = 1.5
  val B = 0.75

  // ------------------------------------------------------------ index
  /** Posting lists: one row per (doc, term) with term frequency + doc
    * length. Reused across queries — persist/write once per corpus.
    * `tokenizer = "chinese"` segments Han runs with the dictionary DP
    * ([[CjkSegmenter]], ≙ the reference's `with parser gojieba`); the
    * default is the whitespace/lowercase tokenizer.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      tokenizer: String = "simple"): DataFrame =
    buildIndexMulti(docs, idCol, Seq(textCol), tokenizer)

  /** Multi-column index: `MATCH(col1, col2) AGAINST(...)` builds ONE
    * combined index — the reference's tokenizer concatenates every
    * listed column with '\n' into a single content buffer per document
    * (`pkg/sql/colexec/table_function/fulltext_tokenize.go:142-150`,
    * NULL columns skipped), so tf/dl/df and hence BM25 are computed
    * over the union of the columns' tokens, MySQL combined-index style.
    */
  def buildIndexMulti(docs: DataFrame, idCol: String, textCols: Seq[String],
      tokenizer: String = "simple"): DataFrame = {
    require(textCols.nonEmpty, "MATCH() needs at least one column")
    // json parser: each column is its own document — concatenating two
    // JSON texts with '\n' is not valid JSON (the reference loops the
    // arg vectors per column, fulltext_tokenize.go:197-205)
    val toks =
      if (tokenizer == "json" && textCols.sizeIs > 1)
        flatten(array(textCols.map(c => tokensOf(col(c), tokenizer)): _*))
      else {
        val text =
          if (textCols.sizeIs == 1) col(textCols.head)
          else concat_ws("\n", textCols.map(col): _*)
        tokensOf(text, tokenizer)
      }
    docs.select(col(idCol).as("doc_id"), explode(toks).as("tk"))
      .select(col("doc_id"), col("tk.term").as("term"), col("tk.pos").as("pos"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
  }

  /** Tokenize a text column to `array<struct<term, pos>>`. The simple
    * and json tokenizers carry the reference's byte positions; the
    * chinese and whitespace tokenizers use sequential ordinals (their
    * segmenters have no byte bookkeeping — phrase adjacency over them is
    * token-sequential).
    */
  private[fulltext] def tokensOf(c: Column, tokenizer: String): Column =
    tokenizer match {
      case "chinese" => CjkSegmenter.tokensPosCol(c)
      case "whitespace" => ordinalToks(tokens(c))
      case "json" => jsonTokU(c)
      case _ => simpleTokU(c)
    }

  private def ordinalToks(arr: Column): Column =
    transform(arr, (t, i) => struct(t.as("term"), i.cast("int").as("pos")))

  /** `WITH PARSER json` tokenization: walk the document's scalar VALUES
    * in order — object values (keys skipped), array elements; ints and
    * floats rendered as decimal text, booleans/null skipped — and run
    * the simple tokenizer over each value's text
    * (`fulltext_tokenize.go:196-236` "json" case over
    * `bytejson.TokenizeValue(false)`, `fttokenizer.go:52-115`).
    * Divergence: a malformed document yields no tokens instead of
    * erroring the statement (our index builds lazily at query time, so
    * an error here would poison unrelated MATCHes).
    */
  private[graft] def jsonValues(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root =
      try mapper.readTree(text)
      catch { case _: Exception => return Nil }
    val out = Seq.newBuilder[String]
    def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (n.isObject) n.elements().forEachRemaining(walk)
      else if (n.isArray) n.elements().forEachRemaining(walk)
      else if (n.isTextual) out += n.asText()
      else if (n.isIntegralNumber) out += n.bigIntegerValue().toString
      else if (n.isNumber) out += n.asDouble().toString
      // true/false/null are not tokenized (fttokenizer.go:109)
    if (root != null) walk(root)
    out.result()
  }

  /** Positions mirror the reference: `pos = voffset + BytePos(in value)`
    * where voffset accumulates the raw byte lengths of preceding values
    * (`fulltext_tokenize.go:218-231`).
    */
  private[graft] def jsonTokenize(text: String): Seq[NgramTok] = {
    var voffset = 0
    jsonValues(text).flatMap { v =>
      val toks = simpleTokenize(v).map(t => NgramTok(t.word, voffset + t.bytePos))
      voffset += v.getBytes("UTF-8").length
      toks
    }
  }

  private val jsonTokU = udf((text: String) => jsonTokenize(text))

  // -------------------------------------- reference default tokenizer
  /** One emitted token: `bytePos` is the token's UTF-8 byte offset in the
    * source text — the reference's `Token.BytePos`, and the position the
    * index stores. Phrase adjacency compares byte DELTAS, so
    * `"is  not red"` (two spaces) does NOT match a doc containing
    * "is not red" (`fulltext.result:120` expects empty).
    */
  private[graft] final case class SimpleTok(word: String, cpLen: Int, bytePos: Int)

  /** The reference's default ("simple") tokenizer
    * (`pkg/monlp/tokenizer/simple.go`): breakers are ASCII
    * non-alphanumerics plus Unicode punctuation/space; Latin runs
    * (code points < 0x800) are emitted whole, lowercased, capped at 23
    * UTF-8 bytes; CJK runs emit sliding character trigrams with the
    * natural 2/1-gram tail (`outputCJK`, simple.go:181-207), each gram
    * positioned at its starting character's byte offset.
    */
  private[graft] def simpleTokenize(text: String): IndexedSeq[SimpleTok] = {
    if (text == null || text.isEmpty) return Vector.empty
    val cps = text.codePoints().toArray
    def u8len(cp: Int) =
      if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
    // byte offset of each code point (byteAt(i) = offset of cps(i))
    val byteAt = cps.scanLeft(0)((acc, cp) => acc + u8len(cp))
    def isBreaker(cp: Int): Boolean =
      if (cp < 128)
        !(cp >= '0' && cp <= '9' || cp >= 'A' && cp <= 'Z' || cp >= 'a' && cp <= 'z')
      else {
        val t = Character.getType(cp)
        t == Character.DASH_PUNCTUATION || t == Character.START_PUNCTUATION ||
        t == Character.END_PUNCTUATION || t == Character.CONNECTOR_PUNCTUATION ||
        t == Character.OTHER_PUNCTUATION || t == Character.INITIAL_QUOTE_PUNCTUATION ||
        t == Character.FINAL_QUOTE_PUNCTUATION ||
        Character.isWhitespace(cp) || Character.isSpaceChar(cp)
      }
    // Go `isLatin`: fits in 1-2 UTF-8 bytes
    def isLatin(cp: Int) = cp < 0x800
    val out = Vector.newBuilder[SimpleTok]
    var i = 0
    while (i < cps.length) {
      if (isBreaker(cps(i))) i += 1
      else if (isLatin(cps(i))) {
        val start = i
        while (i < cps.length && !isBreaker(cps(i)) && isLatin(cps(i))) i += 1
        var end = i
        var bytes = 0
        var j = start
        while (j < end && bytes + u8len(cps(j)) <= 23) { bytes += u8len(cps(j)); j += 1 }
        end = j // 23-byte cap on a rune boundary (MAX_TOKEN_SIZE)
        out += SimpleTok(new String(cps, start, end - start).toLowerCase,
          end - start, byteAt(start))
      } else {
        val start = i
        while (i < cps.length && !isBreaker(cps(i)) && !isLatin(cps(i))) i += 1
        var a = start
        while (a < i) {
          val e = math.min(a + 3, i)
          out += SimpleTok(new String(cps, a, e - a), e - a, byteAt(a))
          a += 1
        }
      }
    }
    out.result()
  }

  private val simpleTokU = udf((text: String) =>
    simpleTokenize(text).map(t => NgramTok(t.word, t.bytePos)))

  /** Natural-language-mode pattern parse for the default parser
    * (`ParsePatternInNLMode`, `fulltext.go:919-1000`): a pattern shorter
    * than 3 code points is one prefix probe; otherwise overlapping CJK
    * grams are skipped (keeping every 3rd), and a short surviving tail
    * picks the longest overlap ending at the same place or falls back
    * to a prefix probe. Returns (pattern, isStar, bytePos).
    */
  private[graft] def nlParse(pattern: String): Seq[(String, Boolean, Int)] = {
    val p = pattern.trim
    if (p.isEmpty) return Nil
    if (p.codePointCount(0, p.length) < 3)
      return Seq((p.toLowerCase, true, 0))
    val toks = simpleTokenize(p)
    val out = Seq.newBuilder[(String, Boolean, Int)]
    def u8(s: String) = s.getBytes("UTF-8").length
    var currBegin = -1
    var currEnd = -1
    var overlaps = List.empty[(SimpleTok, Int, Int)] // (tok, byteBegin, byteEnd)
    toks.foreach { t =>
      val b = t.bytePos
      val e = b + u8(t.word) // byte length of the emitted (possibly capped) word
      if (b >= currBegin && b < currEnd) {
        overlaps = overlaps :+ ((t, b, e))
      } else {
        currBegin = b; currEnd = e
        if (t.cpLen < 3) {
          val longest = overlaps.find { case (_, _, oe) => oe == e }
          longest match {
            case Some((ot, _, _)) =>
              out += ((ot.word, ot.cpLen < 3, ot.bytePos))
            case None =>
              out += ((t.word, true, t.bytePos))
          }
        } else out += ((t.word, false, t.bytePos))
        overlaps = Nil
      }
    }
    out.result()
  }

  /** MySQL-ngram-style postings: overlapping character n-grams over
    * lowercase alphanumeric runs, positions are global char offsets so
    * gram adjacency (+1) ⇔ substring contiguity. Runs shorter than n
    * are dropped, as MySQL's ngram parser does; short queries fall back
    * to prefix (STAR) matching — the reference's NL-mode rewrite for
    * sub-ngram tokens (`fulltext.go:925`: `len < ngram_size` → `word*`).
    * Handles CJK: any letter/digit codepoint joins a run, so Chinese
    * text (no spaces) becomes one run of overlapping grams.
    */
  def buildNgramIndex(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(ngramTokensU(col(textCol), lit(n))).as("g"))
      .select(col("doc_id"), col("g.term").as("term"), col("g.pos").as("pos"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))

  /** Driver-side ngram tokenization (shared by index build and query). */
  private[graft] def ngramTokenize(text: String, n: Int): Seq[(String, Int)] = {
    if (text == null) return Nil
    val s = text.toLowerCase
    val out = Seq.newBuilder[(String, Int)]
    var i = 0
    while (i < s.length) {
      if (Character.isLetterOrDigit(s.charAt(i))) {
        val start = i
        while (i < s.length && Character.isLetterOrDigit(s.charAt(i))) i += 1
        var j = start
        while (j + n <= i) { out += ((s.substring(j, j + n), j)); j += 1 }
      } else i += 1
    }
    out.result()
  }

  private val ngramTokU = udf((text: String, n: Int) =>
    ngramTokenize(text, n).map { case (t, p) => NgramTok(t, p) })
  private def ngramTokensU(text: Column, n: Column): Column = ngramTokU(text, n)

  /** Document frequency per term. */
  def docFreq(index: DataFrame): DataFrame =
    index.groupBy(col("term")).agg(count(lit(1)).as("df"))

  // ------------------------------------------------- boolean-mode parser
  /** Query AST after the reference's operator table
    * (`pkg/fulltext/types.go:127-135`, parser `fulltext.go:731-838`).
    */
  sealed trait FtNode
  final case class FtText(term: String) extends FtNode
  final case class FtStar(prefix: String) extends FtNode
  /** A quoted phrase: each word paired with its expected position —
    * byte offsets from tokenizing the phrase body (the reference's
    * `ParsePhrase` keeps `Token.BytePos`, so extra interior whitespace
    * changes the required deltas and `"is  not red"` matches nothing,
    * `fulltext.result:120`). [[searchNgram]] supplies char ordinals
    * instead, matching its char-offset gram index.
    */
  final case class FtPhrase(words: Seq[(String, Int)]) extends FtNode
  final case class FtGroup(children: Seq[FtNode]) extends FtNode
  final case class FtMod(op: Char, child: FtNode) extends FtNode // + - < > ~

  /** Split a boolean query into top-level tokens, honoring `"…"` and
    * `(...)` nesting, then build nodes (`CreatePattern`,
    * `fulltext.go:614`).
    */
  def parseBoolean(query: String): Seq[FtNode] = {
    val s = query.trim
    val toks = Seq.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') i += 1
      else {
        val start = i
        var depth = 0
        var inQuote = false
        var done = false
        while (i < s.length && !done) {
          val c = s.charAt(i)
          if (inQuote) { if (c == '"') inQuote = false; i += 1 }
          else if (c == '"') { inQuote = true; i += 1 }
          else if (c == '(') { depth += 1; i += 1 }
          else if (c == ')') { depth -= 1; i += 1 }
          else if (c == ' ' && depth == 0) done = true
          else i += 1
        }
        toks += s.substring(start, i).trim
      }
    }
    toks.result().filter(_.nonEmpty).map(nodeOf)
  }

  private def nodeOf(tok: String): FtNode = {
    val c = tok.charAt(0)
    if ((c == '+' || c == '-' || c == '<' || c == '>' || c == '~') && tok.length > 1)
      FtMod(c, nodeOf(tok.substring(1)))
    else if (c == '"' && tok.length > 1 && tok.last == '"') {
      val body = tok.substring(1, tok.length - 1).trim
      FtPhrase(simpleTokenize(body).map(t => (t.word, t.bytePos)))
    } else if (c == '(' && tok.last == ')')
      FtGroup(parseBoolean(tok.substring(1, tok.length - 1)))
    else if (tok.length > 1 && tok.last == '*')
      FtStar(tok.substring(0, tok.length - 1).toLowerCase)
    else FtText(tok.toLowerCase)
  }

  // --------------------------------------------------------- evaluation
  /** A flattened scoring leaf: one posting-join probe. `phrasePos` is
    * the expected token-offset of this word inside its phrase (-1 for
    * non-phrase leaves).
    */
  private[graft] case class Leaf(leafId: Int, kind: String, pat: String, weight: Double,
      phrasePos: Int)

  /** Rank weights per the reference (`Pattern.GetWeight`,
    * `fulltext.go:347-357`): `<` 0.9, `>` 1.1, `~` -1.0.
    */
  private def modWeight(op: Char): Double = op match {
    case '<' => 0.9
    case '>' => 1.1
    case '~' => -1.0
    case _ => 1.0
  }

  /** Driver-side replica of `pmod(hash(term), TermBuckets)` — the same
    * Murmur3(seed 42) Catalyst uses — so an exact-term probe can carry a
    * LITERAL partition filter and prune the bucketed postings at file
    * level (`PartitionFilters` in the scan, asserted in PlanSpec).
    */
  private[graft] def termBucket(term: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType)), 42).eval(null).asInstanceOf[Int]
    val m = h % FulltextIndex.TermBuckets
    if (m < 0) m + FulltextIndex.TermBuckets else m
  }

  /** The arithmetic of the score formulas, over Catalyst columns (the
    * DataFrame evaluators) or plain doubles (the driver evaluator). Each
    * formula is written once against it, so both evaluators build the
    * same operation tree in the same order. The Double side runs what
    * Catalyst's generated code runs — `Logarithm` is
    * `StrictMath.log(x) / StrictMath.log(base)`, `Pow` is `StrictMath.pow`
    * — so a score taken from one leaf is bit-identical on either path.
    */
  private[fulltext] trait Arith[T] {
    def num(d: Double): T
    def plus(a: T, b: T): T
    def times(a: T, b: T): T
    def div(a: T, b: T): T
    def log10Sq(x: T): T
  }

  private[fulltext] implicit object ColumnArith extends Arith[Column] {
    def num(d: Double): Column = lit(d)
    def plus(a: Column, b: Column): Column = a + b
    def times(a: Column, b: Column): Column = a * b
    def div(a: Column, b: Column): Column = a / b
    def log10Sq(x: Column): Column = pow(log(10.0, x), 2)
  }

  private[fulltext] implicit object DoubleArith extends Arith[Double] {
    def num(d: Double): Double = d
    def plus(a: Double, b: Double): Double = a + b
    def times(a: Double, b: Double): Double = a * b
    def div(a: Double, b: Double): Double = a / b
    def log10Sq(x: Double): Double =
      StrictMath.pow(StrictMath.log(x) / StrictMath.log(10.0), 2)
  }

  /** One leaf's score from its weight, tf, df and the doc's length:
    *   tfidf (reference ALGO_TFIDF, `fulltext.go:208-213`):
    *     w · tf · log10(N/df)²
    *   bm25 (ALGO_BM25 keeps the log10² idf in boolean mode too,
    *   `fulltext.go:217-222`; fulltext_bm25.result scores boolean `+red`
    *   identically to natural-mode BM25):
    *     w · log10(N/df)² · tf(K1+1) / (tf + K1(1−B+B·dl/avgdl))
    */
  private[fulltext] def score[T](algo: String, w: T, tf: T, df: T, dl: T,
      nDocs: Long, avgdl: Double)(implicit a: Arith[T]): T = {
    import a._
    val idfSq = log10Sq(div(num(nDocs.toDouble), df))
    algo match {
      case "tfidf" => times(times(w, tf), idfSq)
      case _ =>
        div(times(times(w, idfSq), times(tf, num(K1 + 1))),
          plus(tf, times(num(K1), plus(num(1 - B), div(times(num(B), dl), num(avgdl))))))
    }
  }

  /** Per-(leaf, doc) scores in ONE pass over the postings: broadcast
    * the tiny leaf table, probe exact terms and prefixes together, then
    * window-count df per leaf. STAR aggregates every matching term
    * (tf summed, df = docs matching any term with the prefix).
    */
  private def leafScores(index: FulltextIndex, leaves: Seq[Leaf], algo: String): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val needPos = leaves.exists(_.phrasePos >= 0)
    // exact terms take the broadcast HASH join; only STAR prefixes fall
    // back to the nested-loop probe (predicate join), so the common
    // no-wildcard query never scans postings with a non-equi condition
    val textLeaves = leaves.filter(_.kind == "text")
    val textDf = textLeaves.toDF("leaf_id", "kind", "pat", "weight", "phrase_pos")
    val starDf = leaves.filter(_.kind == "star").toDF("leaf_id", "kind", "pat", "weight", "phrase_pos")
    // bucketed postings: exact probes touch only their terms' buckets
    val exactSide =
      if (index.postings.columns.contains("_tb") && textLeaves.nonEmpty)
        index.postings.filter(
          col("_tb").isin(textLeaves.map(l => termBucket(l.pat)).distinct: _*))
      else index.postings
    val textJoined = exactSide.join(broadcast(textDf), col("term") === col("pat"))
    val joined =
      if (leaves.exists(_.kind == "star"))
        textJoined.unionByName(
          index.postings.join(broadcast(starDf), col("term").startsWith(col("pat"))),
          allowMissingColumns = true)
      else textJoined
    val posAgg =
      if (needPos) sort_array(flatten(collect_list(col("positions")))).as("positions")
      else first(lit(Array.empty[Int])).as("positions")
    val perDoc = joined
      .groupBy(col("leaf_id"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"), max(col("dl")).as("dl"),
        max(col("weight")).as("weight"), max(col("phrase_pos")).as("phrase_pos"),
        posAgg)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("leaf_id"))))
    perDoc.withColumn("score", score[Column](algo, col("weight"), col("tf"), col("df"),
      col("dl"), index.nDocs, index.avgdl))
  }

  /** Phrase-occurrence count via built-in expressions (guide §4 — no
    * ScalaUDF on the candidate path): shift every leaf's posting list by
    * its phrase offset, then intersect across leaves. A surviving value
    * is an anchor position where EVERY word of the phrase appears at its
    * required offset; the count is the phrase's occurrence count and
    * `> 0` is the phrase predicate. Positions within one (leaf, doc)
    * posting are distinct, so the set semantics of array_intersect match
    * the reference's docvec bookkeeping exactly.
    */
  private def phraseOccCount(offs: Column, plists: Column, nWords: Int): Column = {
    val normalized = zip_with(plists, offs,
      (ps, off) => transform(ps, p => p - off))
    val inter = aggregate(normalized, lit(null).cast("array<int>"),
      (acc, x) => when(acc.isNull, x).otherwise(array_intersect(acc, x)))
    when(size(offs) =!= nWords, lit(0))
      .otherwise(coalesce(size(inter), lit(0)))
  }

  /** Evaluate a parsed boolean query against a prebuilt index.
    * Top-level combine per the reference's Eval loop: `+` nodes AND
    * (scores summed), other positive nodes extend the doc set only when
    * no `+` exists (EvalPlusOR vs EvalOR, `fulltext.go:380-470`), `-`
    * nodes anti-join.
    */
  def searchBoolean(index: FulltextIndex, query: String, algo: String = "bm25",
      tokenizer: String = "simple"): DataFrame =
    searchBooleanNodes(index, parseBoolean(query), algo, tokenizer)

  /** A top-level boolean node flattened to scoring leaves: its leaf ids,
    * the phrases among them as (leaf ids, word count), and its role —
    * '+' must, '-' must-not, 's' should.
    */
  private[fulltext] final case class BoolNode(leafIds: Seq[Int], phrases: Seq[(Seq[Int], Int)],
      role: Char)

  /** Flatten parsed boolean nodes into scoring leaves — the one leaf and
    * node construction both evaluators share.
    */
  private[fulltext] def booleanLeaves(nodes: Seq[FtNode],
      tokenizer: String): (Seq[Leaf], Seq[BoolNode]) = {
    var nextId = 0
    val leafBuf = Seq.newBuilder[Leaf]

    // returns (leafIds-for-node, phrase groups as (leafIds, nWords))
    def collect(node: FtNode, weight: Double): (Seq[Int], Seq[(Seq[Int], Int)]) = node match {
      case FtText(t) =>
        // a TEXT word re-tokenizes through the NL parse (GenTextSql,
        // `pkg/fulltext/sql.go:171-189`): one Latin word stays a term
        // probe, a CJK word becomes a positional phrase of its grams.
        // A gojieba index segments the query with the SAME dictionary
        // (the index terms are dictionary words, not grams) — sequential
        // ordinals to match the index's position scheme.
        val parsed =
          if (tokenizer == "chinese")
            CjkSegmenter.tokenizeWithPos(t).map { case (w, i) => (w, false, i) }
          else nlParse(t)
        if (parsed.length <= 1) {
          val (pat, star) = parsed.headOption.map(p => (p._1, p._2))
            .getOrElse((t.toLowerCase, false))
          val id = nextId; nextId += 1
          leafBuf += Leaf(id, if (star) "star" else "text", pat, weight, -1)
          (Seq(id), Nil)
        } else {
          val base = parsed.head._3
          val ids = parsed.map { case (pat, star, tokPos) =>
            val id = nextId; nextId += 1
            leafBuf += Leaf(id, if (star) "star" else "text", pat, weight, tokPos - base)
            id
          }
          (ids, Seq((ids, parsed.length)))
        }
      case FtStar(p) =>
        val id = nextId; nextId += 1
        leafBuf += Leaf(id, "star", p, weight, -1)
        (Seq(id), Nil)
      case FtPhrase(words) =>
        // a gojieba index stores SEQUENTIAL token ordinals, not byte
        // offsets — re-segment the phrase text with the dictionary and
        // use 0..n-1 ordinals so adjacency lines up with the postings
        // (gojieba.result: '"is not red"' matches doc 3)
        val phraseWords: Seq[(String, Int)] =
          if (tokenizer == "chinese") {
            // rebuild SLOT positions from the parser's byte offsets:
            // every separator byte is one slot (so `"is  not red"` with
            // its double space cannot match single-spaced text), and a
            // CJK word re-segments through the dictionary
            val out = Seq.newBuilder[(String, Int)]
            var pos = 0
            var prev: Option[(String, Int)] = None
            words.foreach { case (w, off) =>
              prev.foreach { case (pw, poff) =>
                pos += math.max(1, off - poff - pw.getBytes("UTF-8").length)
              }
              val toks = CjkSegmenter.tokenizeWithPos(w)
              toks.foreach { case (t, p) => out += ((t, pos + p)) }
              pos += toks.lastOption.map(_._2 + 1).getOrElse(1)
              prev = Some((w, off))
            }
            out.result()
          } else words
        val ids = phraseWords.map { case (w, off) =>
          val id = nextId; nextId += 1
          leafBuf += Leaf(id, "text", w, weight, off)
          id
        }
        (ids, Seq((ids, phraseWords.length)))
      case FtGroup(children) =>
        val parts = children.map(collect(_, weight))
        (parts.flatMap(_._1), parts.flatMap(_._2))
      case FtMod(op, child) if op == '<' || op == '>' || op == '~' =>
        collect(child, weight * modWeight(op))
      case FtMod(_, child) => collect(child, weight)
    }

    val evaled = nodes.map {
      case FtMod('+', child) =>
        val (ids, ph) = collect(child, 1.0); BoolNode(ids, ph, '+')
      case FtMod('-', child) =>
        val (ids, ph) = collect(child, 1.0); BoolNode(ids, ph, '-')
      case other =>
        val (ids, ph) = collect(other, 1.0); BoolNode(ids, ph, 's')
    }
    (leafBuf.result(), evaled)
  }

  def searchBooleanNodes(index: FulltextIndex, nodes: Seq[FtNode],
      algo: String = "bm25", tokenizer: String = "simple"): DataFrame = {
    val (leaves, evaled) = booleanLeaves(nodes, tokenizer)
    val ls = leafScores(index, leaves, algo)

    /** Per-node doc scores: sum of its leaf scores, with each phrase's
      * positional adjacency enforced (EvalPhrase semantics — all words
      * present at consistent offsets).
      */
    def nodeScores(e: BoolNode): DataFrame = {
      val base = ls.filter(col("leaf_id").isin(e.leafIds: _*))
      if (e.phrases.isEmpty)
        base.groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
      else {
        // phrase-qualified docs: every phrase in the node must match
        val phraseOk = e.phrases.map { case (ids, nWords) =>
          ls.filter(col("leaf_id").isin(ids: _*))
            .groupBy(col("doc_id"))
            .agg(
              expr("transform(sort_array(collect_list(struct(phrase_pos, positions))), x -> x.phrase_pos)").as("offs"),
              expr("transform(sort_array(collect_list(struct(phrase_pos, positions))), x -> x.positions)").as("plists"))
            .filter(phraseOccCount(col("offs"), col("plists"), nWords) > 0)
            .select(col("doc_id"))
        }.reduce(_.join(_, Seq("doc_id"), "inner"))
        base.groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
          .join(phraseOk, Seq("doc_id"), "left_semi")
      }
    }

    val musts = evaled.filter(_.role == '+')
    val shoulds = evaled.filter(_.role == 's')
    val mustNots = evaled.filter(_.role == '-')

    val mustAgg =
      if (musts.isEmpty) null
      else musts.map(nodeScores).reduce(_.unionAll(_))
        .groupBy(col("doc_id"))
        .agg(sum(col("score")).as("score"), count(lit(1)).as("_n"))
        .filter(col("_n") === musts.length).drop("_n")
    val shouldAgg =
      if (shoulds.isEmpty) null
      else shoulds.map(nodeScores).reduce(_.unionAll(_))
        .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))

    var result =
      if (mustAgg == null) shouldAgg
      else if (shouldAgg == null) mustAgg
      else mustAgg.as("m")
        .join(shouldAgg.as("o").withColumnRenamed("score", "_s"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("score") + coalesce(col("_s"), lit(0.0))).as("score"))
    if (result == null)
      return index.postings.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("score", lit(0.0)).limit(0)

    if (mustNots.nonEmpty) {
      val excluded = mustNots.map { e =>
        ls.filter(col("leaf_id").isin(e.leafIds: _*)).select(col("doc_id"))
      }.reduce(_.unionAll(_)).distinct()
      result = result.join(excluded, Seq("doc_id"), "left_anti")
    }
    result
  }

  /** The reference's natural-language mode, exactly: the WHOLE query is
    * one positional phrase over its NL-parsed patterns (`patternToSql`
    * routes NL mode through `SqlPhrase`, `pkg/fulltext/sql.go:575-580`;
    * anchor grouping `sql.go:500-543`), so multi-word queries demand
    * adjacency, not OR. Scoring follows `EvalLeaf`
    * (`fulltext.go:192-233`) with the NL docvec/aggcnt bookkeeping
    * (`table_function/fulltext.go:805-830`): every keyword's leaf gets
    * tf = phrase occurrences and df = docs matching the phrase, so
    *   tfidf: score = nwords · occ · log10(N/df)²
    *   bm25:  score = nwords · log10(N/df)² · occ(K1+1)/(occ + K1(1−B+B·dl/avgdl))
    * (the reference's BM25 keeps the log10² idf, `fulltext.go:217-222`).
    * Docs with zero occurrences are absent — the reference's
    * index-apply join filters them even in a projection.
    */
  def searchNaturalMo(index: FulltextIndex, query: String, algo: String = "bm25",
      tokenizer: String = "simple"): DataFrame = {
    val leaves = naturalLeaves(query, tokenizer)
    if (leaves.isEmpty)
      return index.postings.sparkSession.range(0).select(col("id").as("doc_id"),
        lit(0.0).as("score"))
    val n = leaves.length
    val ls = leafScores(index, leaves, algo)
    val perDoc = ls.groupBy(col("doc_id"))
      .agg(
        expr("transform(sort_array(collect_list(struct(phrase_pos, positions))), x -> x.phrase_pos)").as("offs"),
        expr("transform(sort_array(collect_list(struct(phrase_pos, positions))), x -> x.positions)").as("plists"),
        max(col("dl")).as("dl"), sum(col("tf")).as("tfsum"))
    val withOcc =
      if (n == 1) perDoc.withColumn("occ", col("tfsum").cast("int"))
      else perDoc.withColumn("occ", phraseOccCount(col("offs"), col("plists"), n))
    // df = docs with an occurrence: a one-row aggregate broadcast back
    // to every matched doc, not a window over one partition
    val matched = withOcc.filter(col("occ") > 0)
    val withDf = matched.crossJoin(broadcast(matched.agg(count(lit(1)).as("df"))))
    withDf.select(col("doc_id"),
      score[Column](algo, lit(n.toDouble), col("occ"), col("df"), col("dl"),
        index.nDocs, index.avgdl).as("score"))
  }

  /** NL-mode leaves, one per parsed pattern, at its offset from the
    * first: gojieba indexes store dictionary words at sequential
    * ordinals, so the query segments the same way (ParsePattern with the
    * jieba tokenizer, fulltext.go:919-923); every other parser shares
    * the byte-positioned NL parse.
    */
  private[fulltext] def naturalLeaves(query: String, tokenizer: String): Seq[Leaf] = {
    val pats =
      if (tokenizer == "chinese")
        CjkSegmenter.tokenizeWithPos(query).map { case (w, i) => (w, false, i) }
      else nlParse(query)
    val base = pats.headOption.map(_._3).getOrElse(0)
    pats.zipWithIndex.map { case ((pat, star, tokPos), i) =>
      Leaf(i, if (star) "star" else "text", pat, 1.0, tokPos - base)
    }
  }

  /** Natural-language mode: every distinct query token is a should-term.
    * With `tokenizer = "chinese"` the query is segmented with the same
    * dictionary DP as the index.
    */
  def searchNatural(index: FulltextIndex, query: String, algo: String = "bm25",
      tokenizer: String = "simple"): DataFrame = {
    val parsed: Seq[(String, Boolean)] = (tokenizer match {
      case "chinese" => CjkSegmenter.tokenize(query).map(t => (t, false))
      case "whitespace" =>
        query.trim.toLowerCase.split("\\s+").toSeq.map(t => (t, false))
      case _ => nlParse(query).map { case (pat, star, _) => (pat, star) }
    }).filter(_._1.nonEmpty).distinct
    val leaves = parsed.zipWithIndex.map { case ((t, star), i) =>
      Leaf(i, if (star) "star" else "text", t, 1.0, -1)
    }
    leafScores(index, leaves, algo)
      .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
  }

  /** Substring search over an ngram index: each alphanumeric run of the
    * needle becomes a gram-phrase (consecutive char offsets); runs
    * shorter than n fall back to prefix probes. All runs must match.
    * Returns matching doc_ids.
    */
  def searchNgram(index: FulltextIndex, needle: String, n: Int = 3): DataFrame = {
    val s = needle.trim.toLowerCase
    val runs = s.split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    require(runs.nonEmpty, "empty ngram query")
    // each run is a must-phrase of its grams at CHAR-ordinal offsets
    // (the ngram index stores char positions, so contiguity ⇔ +1 deltas);
    // sub-ngram runs are STAR prefixes (the reference's short-token
    // rewrite, `fulltext.go:925`)
    val nodes: Seq[FtNode] = runs.map { run =>
      if (run.length < n) FtMod('+', FtStar(run))
      else FtMod('+', FtPhrase(run.sliding(n).toSeq.zipWithIndex))
    }
    searchBooleanNodes(index, nodes).select(col("doc_id"))
  }

  // ------------------------------------------------ driver evaluator
  /** One leaf's entry for one document, as [[leafScores]] aggregates it:
    * tf summed over the leaf's matching terms, the doc length, the
    * positions and the leaf score.
    */
  private final case class LeafDoc(tf: Long, dl: Long, positions: Array[Int], score: Double)

  /** Each leaf's entries by document, keyed by leaf id. */
  private type Probed = Map[Int, collection.Map[Any, LeafDoc]]

  /** Read the postings of the leaves' terms — their exact terms'
    * buckets, or every bucket once a STAR prefix is present — in ONE
    * Spark job, then aggregate each leaf's per-document entries on the
    * driver, exactly as [[leafScores]] does: df = the leaf's document
    * count, and the score from the shared [[score]] formula.
    */
  private def probeLeaves(index: FulltextIndex, leaves: Seq[Leaf],
      algo: String): Probed = {
    val terms = leaves.filter(_.kind == "text").map(_.pat).distinct
    val stars = leaves.filter(_.kind == "star").map(_.pat).distinct
    val exact =
      if (terms.isEmpty) lit(false)
      else col("_tb").isin(terms.map(termBucket).distinct: _*) && col("term").isin(terms: _*)
    val needPos = leaves.exists(_.phrasePos >= 0)
    val rows =
      if (leaves.isEmpty) Array.empty[Row]
      else index.postings
        .filter(stars.foldLeft(exact)((c, p) => c || col("term").startsWith(p)))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"),
          if (needPos) col("positions") else lit(null).cast("array<int>").as("positions"))
        .collect()
    leaves.map { l =>
      val acc = collection.mutable.LinkedHashMap.empty[Any, (Long, Long, Array[Int])]
      rows.foreach { r =>
        val t = r.getString(0)
        if (if (l.kind == "star") t.startsWith(l.pat) else t == l.pat) {
          val ps = if (r.isNullAt(4)) Array.empty[Int] else r.getSeq[Int](4).toArray
          val (tf, dl, pos) = acc.getOrElse(r.get(1), (0L, Long.MinValue, Array.empty[Int]))
          acc(r.get(1)) = (tf + r.getLong(2), math.max(dl, r.getLong(3)), pos ++ ps)
        }
      }
      val df = acc.size.toDouble
      l.leafId -> acc.map { case (doc, (tf, dl, pos)) =>
        doc -> LeafDoc(tf, dl, pos,
          score[Double](algo, l.weight, tf.toDouble, df, dl.toDouble, index.nDocs, index.avgdl))
      }
    }.toMap
  }

  /** [[phraseOccCount]] on the driver: the entries are (offset,
    * positions) of the phrase's leaves that hold the document. The first
    * shifted list seeds the intersection as is; each further list keeps
    * the distinct survivors (`array_intersect`).
    */
  private def phraseOcc(entries: Seq[(Int, Array[Int])], nWords: Int): Int =
    if (entries.isEmpty || entries.length != nWords) 0
    else {
      val shifted = entries.map { case (off, ps) => ps.map(_ - off) }
      shifted.tail.foldLeft(shifted.head)((acc, x) => acc.distinct.intersect(x)).length
    }

  /** [[searchBooleanNodes]] on the driver over probed leaves. Scores sum
    * from 0.0 in leaf order, then node order, as Spark's `sum` does for
    * one value; only the order of multi-leaf sums can differ.
    */
  private def booleanLocal(leaves: Seq[Leaf], nodes: Seq[BoolNode],
      ls: Probed): Seq[(Any, Double)] = {
    val offset = leaves.map(l => l.leafId -> l.phrasePos).toMap
    def nodeScores(e: BoolNode): collection.Map[Any, Double] = {
      val sums = collection.mutable.LinkedHashMap.empty[Any, Double]
      e.leafIds.foreach(id => ls(id).foreach { case (d, ld) =>
        sums(d) = sums.getOrElse(d, 0.0) + ld.score
      })
      sums.filter { case (d, _) =>
        e.phrases.forall { case (ids, nWords) =>
          phraseOcc(ids.flatMap(id => ls(id).get(d).map(ld => (offset(id), ld.positions))),
            nWords) > 0
        }
      }
    }
    def total(maps: Seq[collection.Map[Any, Double]], d: Any): Double =
      maps.foldLeft(0.0)((s, m) => m.get(d).fold(s)(s + _))
    val musts = nodes.filter(_.role == '+').map(nodeScores)
    val shoulds = nodes.filter(_.role == 's').map(nodeScores)
    val excluded = nodes.filter(_.role == '-').flatMap(_.leafIds).flatMap(ls(_).keys).toSet
    val docs =
      if (musts.nonEmpty) musts.head.keys.filter(d => musts.forall(_.contains(d))).toSeq
      else shoulds.flatMap(_.keys).distinct
    // a sum from 0.0 is never -0.0, so adding an empty side's 0.0 is exact
    docs.filterNot(excluded).map(d => d -> (total(musts, d) + total(shoulds, d)))
  }

  /** [[searchNaturalMo]] on the driver over probed leaves. */
  private def naturalLocal(index: FulltextIndex, leaves: Seq[Leaf], algo: String,
      ls: Probed): Seq[(Any, Double)] = {
    val n = leaves.length
    val entries = leaves.flatMap(l => ls(l.leafId).map { case (d, ld) => (d, l.phrasePos, ld) })
    val occ = entries.groupBy(_._1).toSeq.flatMap { case (d, es) =>
      val o =
        if (n == 1) es.map(_._3.tf).sum.toInt
        else phraseOcc(es.map { case (_, off, ld) => (off, ld.positions) }, n)
      if (o > 0) Some((d, o, es.map(_._3.dl).max)) else None
    }
    val df = occ.length.toDouble
    occ.map { case (d, o, dl) =>
      d -> score[Double](algo, n.toDouble, o.toDouble, df, dl.toDouble, index.nDocs, index.avgdl)
    }
  }

  // ----------------------------------------------------- prebuilt index
  /** A persisted inverted index + driver-side corpus stats: the unit the
    * reference materializes at `CREATE FULLTEXT INDEX` time.
    * `bucketBytes` holds the written size of each term bucket of a
    * materialized index ([[FulltextIndex.forCorpusMulti]]), empty for an
    * in-session one.
    */
  final case class FulltextIndex(postings: DataFrame, nDocs: Long, avgdl: Double,
      bucketBytes: IndexedSeq[Long] = IndexedSeq.empty) {

    /** Bytes of postings a probe of these leaves reads: the buckets of
      * its exact terms, or every bucket once a STAR prefix is present.
      * None when the sizes are unknown.
      */
    private[fulltext] def probeBytes(leaves: Seq[Leaf]): Option[Long] =
      if (bucketBytes.isEmpty) None
      else if (leaves.exists(_.kind == "star")) Some(bucketBytes.sum)
      else Some(leaves.map(l => termBucket(l.pat)).distinct.map(bucketBytes).sum)
  }

  object FulltextIndex {
    // per session: a cached index holds DataFrames of the session that
    // built it, which a later session must never probe
    private val cache = new graft.SessionScoped(() =>
      new java.util.concurrent.ConcurrentHashMap[String, FulltextIndex]())

    /** Ephemeral in-session index: cached postings DataFrame. Prefer
      * [[forCorpus]] for anything probed more than once.
      */
    def build(docs: DataFrame, idCol: String, textCol: String,
        ngram: Boolean = false, n: Int = 3,
        tokenizer: String = "simple"): FulltextIndex =
      buildMulti(docs, idCol, Seq(textCol), ngram, n, tokenizer)

    def buildMulti(docs: DataFrame, idCol: String, textCols: Seq[String],
        ngram: Boolean = false, n: Int = 3,
        tokenizer: String = "simple"): FulltextIndex = {
      val postings =
        (if (ngram) buildNgramIndex(docs, idCol, textCols.head, n)
         else buildIndexMulti(docs, idCol, textCols, tokenizer)).persist()
      val row = postings.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)), avg(col("dl"))).head()
      FulltextIndex(postings, row.getLong(0), row.getDouble(1))
    }

    /** Number of hash buckets the materialized postings are partitioned
      * into by term: a query leaf probes only its own bucket's files —
      * the file-level pruning a 100 TB postings table needs.
      */
    val TermBuckets = 32

    /** Build-once-per-corpus: the postings are MATERIALIZED to a parquet
      * table (the reference's model — the fulltext index is a real
      * table, `pkg/sql/plan/apply_indices_fulltext.go`), partitioned by
      * a term-hash bucket so exact-term probes prune at file level, in
      * [[graft.plans.IndexStore]] (shared FS on a real cluster), so
      * probes survive `spark.catalog.clearCache()` and never re-tokenize
      * the corpus.
      */
    def forCorpus(docs: DataFrame, idCol: String, textCol: String, key: String,
        ngram: Boolean = false, n: Int = 3,
        tokenizer: String = "simple"): FulltextIndex =
      forCorpusMulti(docs, idCol, Seq(textCol), key, ngram, n, tokenizer)

    def forCorpusMulti(docs: DataFrame, idCol: String, textCols: Seq[String],
        key: String, ngram: Boolean = false, n: Int = 3,
        tokenizer: String = "simple"): FulltextIndex =
      // "bp" = byte-position postings format; versioning the store path
      // keeps a pre-upgrade persisted index from being probed with the
      // new position semantics
      cache(docs.sparkSession).computeIfAbsent(
          s"$key#${textCols.mkString(",")}#$ngram#$n#$tokenizer#bp", _ => {
        val spark = docs.sparkSession
        val dir = graft.plans.IndexStore.path(spark, "fulltext",
          s"$key-${textCols.mkString("-")}-$ngram-$n-$tokenizer-bp")
        val builtIdx = (if (ngram) buildNgramIndex(docs, idCol, textCols.head, n)
         else buildIndexMulti(docs, idCol, textCols, tokenizer))
          .withColumn("_tb", pmod(hash(col("term")), lit(TermBuckets)))
        builtIdx.write.mode("overwrite").partitionBy("_tb").parquet(dir)
        // pin the schema: an EMPTY corpus (e.g. right after DELETE FROM)
        // writes zero data files and parquet inference would fail
        val postings = spark.read.schema(builtIdx.schema).parquet(dir)
          .withColumn("_tb", col("_tb").cast("int"))
        val row = postings.select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)), avg(col("dl"))).head()
        FulltextIndex(postings, row.getLong(0),
          if (row.isNullAt(1)) 0.0 else row.getDouble(1), writtenBucketBytes(spark, dir))
      })

    /** Size of each `_tb=k` bucket's data files in a written postings dir. */
    private def writtenBucketBytes(spark: SparkSession, dir: String): IndexedSeq[Long] = {
      val sizes = Array.fill(TermBuckets)(0L)
      val root = new org.apache.hadoop.fs.Path(dir)
      val files = root.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(root, true)
      while (files.hasNext) {
        val f = files.next()
        val bucket = f.getPath.getParent.getName
        val name = f.getPath.getName
        if (bucket.startsWith("_tb=") && !name.startsWith(".") && !name.startsWith("_"))
          sizes(bucket.stripPrefix("_tb=").toInt) += f.getLen
      }
      sizes.toIndexedSeq
    }

    def invalidate(key: String): Unit =
      cache.values.foreach(_.keySet().removeIf(k => k.startsWith(key + "#")))
  }

  // --------------------------------------------------- one-call helpers
  /** One-call `match ... against` on a raw document table. Pass
    * `cacheKey` to reuse a persisted per-corpus index across calls.
    */
  def matchAgainst(docs: DataFrame, idCol: String, textCol: String,
      query: String, booleanMode: Boolean = false, cacheKey: String = null,
      algo: String = "bm25"): DataFrame =
    matchAgainstMulti(docs, idCol, Seq(textCol), query, booleanMode, cacheKey, algo)

  /** Multi-column `MATCH(col1, col2, ...) AGAINST(q)`: one combined
    * index over the concatenated columns (see [[buildIndexMulti]]).
    * Scored on the driver when the probe fits the broadcast threshold,
    * else by the DataFrame evaluators (see the object doc).
    */
  def matchAgainstMulti(docs: DataFrame, idCol: String, textCols: Seq[String],
      query: String, booleanMode: Boolean = false, cacheKey: String = null,
      algo: String = "bm25", tokenizer: String = "simple"): DataFrame = {
    val index =
      if (cacheKey != null)
        FulltextIndex.forCorpusMulti(docs, idCol, textCols, cacheKey,
          tokenizer = tokenizer)
      else FulltextIndex.buildMulti(docs, idCol, textCols, tokenizer = tokenizer)
    // the SQL MATCH surface follows the reference exactly: NL mode is a
    // positional phrase with the log10²-idf scoring (searchNaturalMo)
    val bool = if (booleanMode) Some(booleanLeaves(parseBoolean(query), tokenizer)) else None
    val leaves = bool.fold(naturalLeaves(query, tokenizer))(_._1)
    val spark = index.postings.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (index.probeBytes(leaves).exists(_ <= threshold)) {
      val ls = probeLeaves(index, leaves, algo)
      val scores = bool.fold(naturalLocal(index, leaves, algo, ls)) {
        case (_, nodes) => booleanLocal(leaves, nodes, ls)
      }
      spark.createDataFrame(
        java.util.Arrays.asList(scores.map { case (d, s) => Row(d, s) }: _*),
        StructType(Seq(StructField("doc_id", index.postings.schema("doc_id").dataType),
          StructField("score", DoubleType))))
    } else if (booleanMode) searchBoolean(index, query, algo, tokenizer)
    else searchNaturalMo(index, query, algo, tokenizer)
  }
}

/** Struct element for ngram tokenization output. */
case class NgramTok(term: String, pos: Int)
