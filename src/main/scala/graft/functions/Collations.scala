package graft.functions

import java.text.Collator
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Collation-aware comparison (reference collation support in
  * `pkg/container/types` string compares + MySQL collation names like
  * `utf8mb4_general_ci` / `utf8mb4_bin` on column definitions).
  *
  * Spark compares strings by raw UTF-8 bytes; to sort/compare/group under
  * a MySQL-style collation we map the collation name to a JDK Collator
  * strength and emit a binary SORT KEY (`CollationKey.toByteArray`) —
  * Spark orders BinaryType by unsigned lexicographic bytes, so
  * `ORDER BY collation_key(c, 'utf8mb4_general_ci')` reproduces the
  * collation order, and `groupBy(collation_key(...))` groups
  * case-insensitively. This is the standard sort-key design (ICU/UCA);
  * the key is computed once per row and shuffles as bytes, so it scales
  * like any other derived column.
  *
  *  - `*_ci`  → PRIMARY   (case- and accent-insensitive, MySQL *_general_ci-ish)
  *  - `*_as_cs`/`*_cs` → TERTIARY (case-sensitive, accent-sensitive)
  *  - `*_bin` → raw UTF-8 bytes (binary collation)
  */
object Collations {

  private def strengthOf(collation: String): Option[Int] = {
    val c = collation.toLowerCase
    if (c.endsWith("_bin")) None
    else if (c.endsWith("_ci")) Some(Collator.PRIMARY)
    else Some(Collator.TERTIARY)
  }

  // Collator is not thread-safe: one per thread per strength.
  private val collators = new ThreadLocal[java.util.HashMap[Int, Collator]] {
    override def initialValue() = new java.util.HashMap[Int, Collator]()
  }

  private def collator(strength: Int): Collator = {
    val m = collators.get()
    var c = m.get(strength)
    if (c == null) {
      c = Collator.getInstance(Locale.ROOT)
      c.setStrength(strength)
      c.setDecomposition(Collator.CANONICAL_DECOMPOSITION)
      m.put(strength, c)
    }
    c
  }

  def keyBytes(s: String, collation: String): Array[Byte] =
    if (s == null) null
    else strengthOf(collation) match {
      case None => s.getBytes("UTF-8")
      case Some(st) => collator(st).getCollationKey(s).toByteArray
    }

  /** 3-way compare under a collation (MySQL STRCMP with collation). */
  def strcmp(a: String, b: String, collation: String): Option[Int] =
    if (a == null || b == null) None
    else strengthOf(collation) match {
      case None => Some(Integer.signum(a.compareTo(b)))
      case Some(st) => Some(Integer.signum(collator(st).compare(a, b)))
    }

  private val keyU = udf(keyBytes _)
  private val cmpU = udf(strcmp _)
  private val eqU = udf((a: String, b: String, coll: String) => strcmp(a, b, coll).map(_ == 0))

  /** Binary sort key: ORDER BY / groupBy this to collate. */
  def collation_key(c: Column, collation: Column): Column = keyU(c, collation)
  def collated_strcmp(a: Column, b: Column, collation: Column): Column = cmpU(a, b, collation)
  def collated_eq(a: Column, b: Column, collation: Column): Column = eqU(a, b, collation)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("collation_key", udf(keyBytes _))
    ft.udf("collated_strcmp", udf(strcmp _))
    ft.udf("collated_eq",
      udf((a: String, b: String, c: String) => strcmp(a, b, c).map(_ == 0)))
  }
}
