package graft.sql

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Per-database TABLE namespacing over flat physical storage.
  *
  * The reference scopes tables per (account, database)
  * (`pkg/frontend/authenticate.go` session db + `pkg/catalog` relations
  * keyed by database id); Spark-side storage here is a single flat
  * namespace. This registry assigns every TRACKED table a physical name:
  * the bare logical name when it is globally unused (the overwhelmingly
  * common case — behavior is then byte-identical to flat storage), or a
  * mangled `__gns_<dbkey>__<name>` when another database already owns
  * the bare name. GraftSql's resolution pass rewrites statement text
  * logical→physical; display surfaces (information_schema, mo_catalog)
  * map physical→logical back through [[logicalOf]].
  *
  * A "db key" is the account-scoped database identity MoCatalog uses:
  * `db` under the sys account, `acct db` otherwise; a subscription
  * database resolves to its PUBLISHER's key (the published tables ARE
  * the publisher's — reference `pkg/frontend/publication_subscription.go`).
  */
object Namespaces {

  private final class State {
    // (dbKey, logicalLower) → physical name
    val logToPhys = TrieMap[(String, String), String]()
    // physicalLower → (dbKey, logicalLower)
    val physToLog = TrieMap[String, (String, String)]()
  }
  private val state = new graft.SessionScoped(() => new State)

  def displayDb(dbKey: String): String = {
    val i = dbKey.indexOf(' ')
    if (i >= 0) dbKey.substring(i + 1) else dbKey
  }

  private def mangle(dbKey: String, t: String): String =
    "__gns_" + dbKey.replaceAll("\\W", "_") + "__" + t

  /** The physical name a reference `[db.]t` resolves to: the recorded
    * mapping, else the bare name (untracked tables stay flat).
    */
  def resolve(spark: SparkSession, dbKey: String, t: String): String =
    state(spark).logToPhys.getOrElse((dbKey, t.toLowerCase), t)

  /** Physical-name decision at CREATE: reuse the recorded mapping, else
    * claim the bare name if no OTHER database owns it, else mangle.
    */
  def createName(spark: SparkSession, dbKey: String, t: String): String = {
    val st = state(spark)
    val tl = t.toLowerCase
    st.logToPhys.get((dbKey, tl)) match {
      case Some(p) => p
      case None =>
        val phys =
          if (st.physToLog.get(tl).forall(_._1 == dbKey)) t
          else mangle(dbKey, t)
        st.logToPhys.put((dbKey, tl), phys)
        st.physToLog.put(phys.toLowerCase, (dbKey, tl))
        phys
    }
  }

  /** Forget a table by its PHYSICAL name (drop/rename bookkeeping). */
  def forget(spark: SparkSession, physical: String): Unit = {
    val st = state(spark)
    st.physToLog.remove(physical.toLowerCase).foreach(st.logToPhys.remove)
  }

  /** (dbKey, logical) of a tracked physical name, for display demangle. */
  def logicalOf(spark: SparkSession, physical: String): Option[(String, String)] =
    state(spark).physToLog.get(physical.toLowerCase)

  /** All tracked (logical, physical) pairs of one database. */
  def tablesOf(spark: SparkSession, dbKey: String): Seq[(String, String)] =
    state(spark).logToPhys.toSeq.collect { case ((d, l), p) if d == dbKey => (l, p) }

  /** Logical names of the effective current db whose physical name
    * differs (the set the bare-name rewrite must touch — usually empty).
    */
  def mangledOf(spark: SparkSession, dbKey: String): Seq[(String, String)] =
    state(spark).logToPhys.toSeq.collect {
      case ((d, l), p) if d == dbKey && p.toLowerCase != l => (l, p)
    }

  /** Db keys owned by an account (drop-account cleanup). */
  def accountDbKeys(spark: SparkSession, acct: String): Seq[String] = {
    val prefix = acct.toLowerCase + " "
    state(spark).logToPhys.keys.collect {
      case (d, _) if d.startsWith(prefix) => d
    }.toSeq.distinct
  }

  def dropDbEntries(spark: SparkSession, dbKey: String): Unit = {
    val st = state(spark)
    st.logToPhys.keys.filter(_._1 == dbKey).foreach { key =>
      st.logToPhys.remove(key).foreach(p => st.physToLog.remove(p.toLowerCase))
    }
  }
}
