package graft.sql

import graft.SessionScoped
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** The reference's SEQUENCE objects and their four scalar functions —
  * `nextval / currval / setval / lastval` (reference
  * `pkg/sql/plan/function/seqfunc.go:50,274,430,481`; DDL semantics in
  * `pkg/sql/plan/build_ddl.go` buildCreateSequence; goldens under
  * `test/distributed/cases/sequence/`).
  *
  * A sequence is a single mutable counter with typed bounds:
  *  - supported element types are SMALLINT/INT/BIGINT (each optionally
  *    UNSIGNED); TINYINT is the reference's explicit "Unsupported type
  *    for sequence" (create_sequence.result:62).
  *  - ascending defaults: min=1, max=typeMax, start=min. Descending
  *    (negative increment): min=typeMin, max=-1 (typeMax when
  *    unsigned, where -1 is unrepresentable), start=max.
  *  - the FIRST nextval returns the start value (is_called flips on);
  *    each later call advances by the increment, wrapping to
  *    min (ascending) / max (descending) when CYCLE, erroring
  *    "Reached maximum value of sequence <name>" otherwise.
  *  - `setval(name, v[, b])` force-sets the counter (the next
  *    advance starts from v); when b is true (default) it also updates
  *    the session's currval/lastval bookkeeping, when false it leaves
  *    them untouched (create_sequence.result:212-217 — lastval() still
  *    reports the pre-setval value).
  *  - `currval(name)` is the last value THIS session drew from that
  *    sequence; `lastval()` the last value drawn from ANY sequence.
  *  - explicit MINVALUE/MAXVALUE literals are truncated into the
  *    element type with wraparound before validation, reproducing the
  *    reference's Go integer conversion ("MAXVALUE (-27009)" for
  *    smallint 9999999, create_sequence.result:199).
  *
  * State lives on the driver as an in-memory registry keyed by session.
  * Scale note: sequence traffic is inherently a single global counter —
  * the reference funnels it through one catalog row per sequence with a
  * transactional update (`seqfunc.go:206` advanceSeq under txn); a
  * multi-executor deployment would put block allocation (CACHE n) in
  * front of the same single-row CAS, which is an optimization of this
  * registry, not a different design. The UDFs registered here evaluate
  * driver-side for DDL/VALUES shapes and executor-side inside scans in
  * the same JVM under local[*].
  */
object Sequences {

  /** Integral element type of a sequence, with the reference's bounds. */
  private[sql] final case class SeqType(
      display: String, bits: Int, unsigned: Boolean) {
    val min: BigInt = if (unsigned) BigInt(0) else -(BigInt(1) << (bits - 1))
    val max: BigInt =
      if (unsigned) (BigInt(1) << bits) - 1 else (BigInt(1) << (bits - 1)) - 1
    /** Go-style conversion into this type: truncate to `bits` with
      * two's-complement wraparound.
      */
    def wrap(v: BigInt): BigInt = {
      val m = v & ((BigInt(1) << bits) - 1)
      if (!unsigned && m >= (BigInt(1) << (bits - 1))) m - (BigInt(1) << bits)
      else m
    }
  }

  private def seqType(name: String): SeqType = {
    val n = name.trim.toLowerCase.replaceAll("\\s+", " ")
    n match {
      case "smallint" => SeqType("SMALLINT", 16, unsigned = false)
      case "smallint unsigned" => SeqType("SMALLINT UNSIGNED", 16, unsigned = true)
      case "int" | "integer" => SeqType("INT", 32, unsigned = false)
      case "int unsigned" | "integer unsigned" =>
        SeqType("INT UNSIGNED", 32, unsigned = true)
      case "bigint" | "" => SeqType("BIGINT", 64, unsigned = false)
      case "bigint unsigned" => SeqType("BIGINT UNSIGNED", 64, unsigned = true)
      case _ =>
        throw new UnsupportedOperationException(
          "not supported: Unsupported type for sequence")
    }
  }

  private final class SeqState(
      var tpe: SeqType,
      var min: BigInt,
      var max: BigInt,
      var start: BigInt,
      var incr: BigInt,
      var cycle: Boolean) {
    var last: BigInt = start
    var isCalled: Boolean = false
  }

  private final class State {
    /** name → state, insertion-ordered for SHOW SEQUENCES. */
    val seqs = mutable.LinkedHashMap[String, SeqState]()
    /** sequence name → currval. */
    val currvals = TrieMap[String, BigInt]()
    @volatile var lastval: Option[BigInt] = None
  }
  private val state = new SessionScoped(() => new State)

  private def registry(spark: SparkSession) = state(spark).seqs

  private def norm(name: String): String =
    name.trim.stripPrefix("`").stripSuffix("`").toLowerCase

  def exists(spark: SparkSession, name: String): Boolean =
    registry(spark).synchronized(registry(spark).contains(norm(name)))

  // ---------------------------------------------------------------- DDL

  private def parseOpts(tail: String): Map[String, String] = {
    def find(re: String): Option[String] =
      re.r.findFirstMatchIn(tail).map(_.group(1))
    val b = Map.newBuilder[String, String]
    find("""(?is)\bas\s+(\w+(?:\s+unsigned)?)""").foreach(b += "as" -> _)
    find("""(?is)\bincrement\s+(?:by\s+)?(-?\d+)""").foreach(b += "incr" -> _)
    find("""(?is)\bminvalue\s+(-?\d+)""").foreach(b += "min" -> _)
    find("""(?is)\bmaxvalue\s+(-?\d+)""").foreach(b += "max" -> _)
    find("""(?is)\bstart\s+(?:with\s+)?(-?\d+)""").foreach(b += "start" -> _)
    if ("""(?is)\bno\s+cycle\b""".r.findFirstIn(tail).isDefined) b += "cycle" -> "0"
    else if ("""(?is)\bcycle\b""".r.findFirstIn(tail).isDefined) b += "cycle" -> "1"
    b.result()
  }

  private def validate(name: String, tpe: SeqType, min: BigInt, max: BigInt,
      start: BigInt): Unit = {
    if (max <= min)
      throw new IllegalArgumentException(
        s"invalid input: MAXVALUE ($max) of sequence must be bigger than MINVALUE ($min) of it")
    if (start < min || start > max)
      throw new IllegalArgumentException(
        s"invalid input: STARTVALUE ($start) for sequence must between MINVALUE ($min) and MAXVALUE ($max)")
  }

  def create(spark: SparkSession, name0: String, tail: String,
      ifNotExists: Boolean): Unit = {
    val name = norm(name0)
    if (name == "table")
      throw new IllegalArgumentException(
        s"SQL parser error: You have an error in your SQL syntax; syntax error near \" $name0\"")
    val reg = registry(spark)
    reg.synchronized {
      val taken = reg.contains(name) ||
        (try spark.catalog.tableExists(name) catch { case _: Exception => false })
      if (taken) {
        if (ifNotExists) return
        throw new IllegalArgumentException(s"table $name already exists")
      }
      val opts = parseOpts(tail)
      val tpe = seqType(opts.getOrElse("as", ""))
      val incr = BigInt(opts.getOrElse("incr", "1"))
      if (incr == 0)
        throw new IllegalArgumentException(
          "invalid input: INCREMENT of sequence must not be zero")
      val asc = incr > 0
      val min = opts.get("min").map(v => tpe.wrap(BigInt(v)))
        .getOrElse(if (asc) BigInt(1) else tpe.min)
      val max = opts.get("max").map(v => tpe.wrap(BigInt(v)))
        .getOrElse(if (asc || tpe.unsigned) tpe.max else BigInt(-1))
      val start = opts.get("start").map(v => tpe.wrap(BigInt(v)))
        .getOrElse(if (asc) min else max)
      validate(name, tpe, min, max, start)
      reg.put(name, new SeqState(tpe, min, max, start, incr, opts.get("cycle").contains("1")))
    }
  }

  /** ALTER SEQUENCE state transition, reverse-engineered from
    * `alter_sequence.result` + `alter_sequence_1.result`:
    *  - unspecified START resets to the current counter (start_value
    *    snaps back to last_seq_num, alter_sequence.result:34-42);
    *  - carried-over bounds CLAMP into a new element type (as int over
    *    a bigint max shows 2147483647, alter_sequence_1.result:70-73),
    *    while explicit literals wrap Go-style like CREATE;
    *  - an already-called sequence re-arms: the counter jumps to
    *    max(old counter, new start) + increment and is_called drops, so
    *    the next nextval returns exactly that value
    *    (`start with 900` → 910; `start 9999` below the counter 10001 →
    *    10002; `increment by -10` at 24 → 14);
    *  - a never-called sequence keeps its counter untouched;
    *  - an empty option list is the reference's "nothing to alter"
    *    syntax error; validation failures leave the state unchanged.
    */
  def alter(spark: SparkSession, name0: String, tail: String,
      ifExists: Boolean = false): Unit = {
    val name = norm(name0)
    val reg = registry(spark)
    reg.synchronized {
      val stOpt = reg.get(name)
      if (stOpt.isEmpty) {
        if (ifExists) return
        throw new IllegalArgumentException(s"invalid input: no such sequence $name")
      }
      val st = stOpt.get
      val opts = parseOpts(tail)
      if (opts.isEmpty)
        throw new IllegalArgumentException(
          s"SQL syntax error: synatx error, $name has nothing to alter")
      val tpe = opts.get("as").map(seqType).getOrElse(st.tpe)
      def clamp(v: BigInt): BigInt = v.max(tpe.min).min(tpe.max)
      val incr = opts.get("incr").map(BigInt(_)).getOrElse(st.incr)
      val min = opts.get("min").map(v => tpe.wrap(BigInt(v))).getOrElse(clamp(st.min))
      val max = opts.get("max").map(v => tpe.wrap(BigInt(v))).getOrElse(clamp(st.max))
      val start = opts.get("start").map(v => tpe.wrap(BigInt(v))).getOrElse(st.last)
      validate(name, tpe, min, max, start)
      st.tpe = tpe; st.incr = incr; st.min = min; st.max = max; st.start = start
      opts.get("cycle").foreach(c => st.cycle = c == "1")
      if (st.isCalled) {
        st.last = (if (incr > 0) start.max(st.last) else start.min(st.last)) + incr
        st.isCalled = false
      }
    }
  }

  def drop(spark: SparkSession, name0: String, ifExists: Boolean): Unit = {
    val name = norm(name0)
    val reg = registry(spark)
    reg.synchronized {
      if (reg.remove(name).isEmpty && !ifExists) {
        val db = spark.catalog.currentDatabase
        throw new IllegalArgumentException(s"no such sequence $db.$name")
      }
      state(spark).currvals.remove(name)
    }
  }

  // ---------------------------------------------------- state surfaces

  /** `SELECT * FROM <sequence>` — the one-row state relation the
    * reference materializes for a sequence's backing table
    * (`seqfunc.go:482` column order).
    */
  def stateDf(spark: SparkSession, name0: String): DataFrame = {
    val st = registry(spark).synchronized(registry(spark)(norm(name0)))
    spark.sql(
      s"""SELECT CAST('${st.last}' AS DECIMAL(20,0)) AS last_seq_num,
         |  CAST('${st.min}' AS DECIMAL(20,0)) AS min_value,
         |  CAST('${st.max}' AS DECIMAL(20,0)) AS max_value,
         |  CAST('${st.start}' AS DECIMAL(20,0)) AS start_value,
         |  CAST('${st.incr}' AS DECIMAL(20,0)) AS increment_value,
         |  CAST(${if (st.cycle) 1 else 0} AS TINYINT) AS cycle,
         |  CAST(${if (st.isCalled) 1 else 0} AS TINYINT) AS is_called""".stripMargin)
  }

  /** `SHOW SEQUENCES [WHERE ...]`, insertion-ordered. */
  def showDf(spark: SparkSession, whereClause: Option[String]): DataFrame = {
    import spark.implicits._
    val rows = registry(spark).synchronized {
      registry(spark).toSeq.map { case (n, st) => (n, st.tpe.display) }
    }
    val df = rows.toDF("Names", "Data Type")
    whereClause.fold(df) { w =>
      val v = s"_graft_seq_show_${System.identityHashCode(rows)}"
      df.createOrReplaceTempView(v)
      spark.sql(s"SELECT * FROM $v WHERE $w")
    }
  }

  // ------------------------------------------------------- functions

  /** BIGINT UNSIGNED sequences (default MAXVALUE 2^64-1) can draw values
    * above Long.MaxValue; surfacing those through a Long would silently
    * wrap negative, so fail loudly instead.
    */
  private def toLongExact(v: BigInt, name: String): Long =
    if (v.isValidLong) v.toLong
    else throw new ArithmeticException(
      s"sequence $name value $v exceeds BIGINT signed range; " +
        "declare a MAXVALUE within [-2^63, 2^63-1]")

  private def seqOf(st: State, name: String): SeqState = {
    val reg = st.seqs
    reg.synchronized {
      reg.getOrElse(name,
        throw new IllegalArgumentException(s"no such sequence $name"))
    }
  }

  private[sql] def nextval(h: SessionScoped.Handle, name0: String): Long = {
    val name = norm(name0)
    val ss = state(h)
    val st = seqOf(ss, name)
    val v = st.synchronized {
      if (!st.isCalled) { st.isCalled = true; st.last }
      else {
        val n = st.last + st.incr
        val nv =
          if (st.incr > 0 && n > st.max) {
            if (st.cycle) st.min
            else throw new IllegalArgumentException(
              s"internal error: Reached maximum value of sequence $name")
          } else if (st.incr < 0 && n < st.min) {
            if (st.cycle) st.max
            // the reference reports "maximum" for both directions
            // (alter_sequence_1.result:109)
            else throw new IllegalArgumentException(
              s"internal error: Reached maximum value of sequence $name")
          } else n
        st.last = nv
        nv
      }
    }
    ss.currvals.put(name, v)
    ss.lastval = Some(v)
    toLongExact(v, name)
  }

  private[sql] def currval(h: SessionScoped.Handle, name0: String): Long = {
    val name = norm(name0)
    val ss = state(h)
    seqOf(ss, name) // existence check
    toLongExact(ss.currvals.getOrElse(name,
      throw new IllegalArgumentException(
        s"internal error: currval of $name before nextval in this session")),
      name)
  }

  private[sql] def lastval(h: SessionScoped.Handle): Long =
    toLongExact(state(h).lastval.getOrElse(
      throw new IllegalArgumentException(
        "internal error: lastval before nextval in this session")), "lastval")

  private[sql] def setval(h: SessionScoped.Handle, name0: String, v: Long,
      updateSession: Boolean): Long = {
    val name = norm(name0)
    val ss = state(h)
    val st = seqOf(ss, name)
    st.synchronized {
      st.last = BigInt(v)
      st.isCalled = true
    }
    if (updateSession) {
      ss.currvals.put(name, BigInt(v))
      ss.lastval = Some(BigInt(v))
    }
    v
  }

  /** The four scalar functions. Marked nondeterministic so Catalyst
    * neither CSEs duplicate calls nor reorders them — `SELECT
    * currval(s), nextval(s), currval(s)` must evaluate left-to-right
    * (seq_func.result:33). The closures capture the analyzing session's
    * HANDLE, not the state: UDF bodies run on task threads from a
    * serialized copy of the closure, and touching the driver
    * SparkSession there NPEs.
    */
  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    import graft.GraftExtensions.Arity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.udf
    ft.sessionUdf("nextval", 1)(h => udf((n: String) => nextval(h, n)).asNondeterministic())
    ft.sessionUdf("currval", 1)(h => udf((n: String) => currval(h, n)).asNondeterministic())
    ft.sessionUdf("lastval", 0)(h => udf(() => lastval(h)).asNondeterministic())
    // MySQL's 2-arg setval(seq, v) defaults is_called to true
    val setvalFn = ft.sessionUdfBuilder("setval")(h =>
      udf((n: String, v: Long, b: Boolean) => setval(h, n, v, b)).asNondeterministic())
    ft.overloads("setval")(
      Arity(2) -> (a => setvalFn(a :+ Literal(true))),
      Arity(3) -> setvalFn)
  }
}
