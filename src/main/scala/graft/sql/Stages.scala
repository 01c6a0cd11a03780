package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Named external locations — the reference's `CREATE STAGE` surface
  * (`pkg/stage/`, BVT `test/distributed/cases/stage/stage.sql`,
  * `external_stage.sql`). A stage maps a name to a base URL
  * (`file:///`, `s3://`, or another `stage://`), optionally with
  * credentials; `stage://name/rel/path` references inside LOAD DATA /
  * INTO OUTFILE / external tables resolve through the registry. Error
  * texts follow the reference's goldens (`stage.result:2,8,34`).
  *
  * Scale note: the registry is driver-side metadata only — resolution
  * happens once per statement at rewrite time; the resolved path goes to
  * Spark's distributed readers/writers unchanged.
  */
object Stages {

  final case class Stage(name: String, url: String,
      credentials: Map[String, String], comment: String)

  // lowercase stage name → stage
  private val registry = new graft.SessionScoped(() => TrieMap[String, Stage]())

  private val Protocols = Seq("stage://", "s3://", "file:///")

  private def checkUrl(url: String): Unit =
    if (!Protocols.exists(p => url.toLowerCase.startsWith(p)))
      throw new IllegalArgumentException(
        "invalid configuration: URL protocol only supports stage://, s3:// and file:///")

  def create(spark: SparkSession, name: String, url: String,
      creds: Map[String, String], comment: String, ifNotExists: Boolean): Unit = {
    checkUrl(url)
    val reg = registry(spark)
    if (reg.contains(name.toLowerCase)) {
      if (ifNotExists) return
      throw new IllegalStateException(s"internal error: the stage $name exists")
    }
    reg.put(name.toLowerCase, Stage(name, url, creds, comment))
  }

  /** Exactly one of url/creds/comment may change per ALTER
    * (`stage.result:34` "at most one option at a time").
    */
  def alter(spark: SparkSession, name: String, url: Option[String],
      creds: Option[Map[String, String]], comment: Option[String],
      ifExists: Boolean): Unit = {
    val reg = registry(spark)
    val st = reg.get(name.toLowerCase) match {
      case Some(s) => s
      case None =>
        if (ifExists) return
        throw new IllegalStateException(s"internal error: the stage $name not exists")
    }
    if (Seq(url, creds, comment).count(_.isDefined) > 1)
      throw new IllegalArgumentException("internal error: at most one option at a time")
    url.foreach(checkUrl)
    reg.put(name.toLowerCase, st.copy(
      url = url.getOrElse(st.url),
      credentials = creds.getOrElse(st.credentials),
      comment = comment.getOrElse(st.comment)))
  }

  def drop(spark: SparkSession, name: String, ifExists: Boolean): Unit =
    if (registry(spark).remove(name.toLowerCase).isEmpty && !ifExists)
      throw new IllegalStateException(s"internal error: the stage $name not exists")

  def list(spark: SparkSession): Seq[Stage] =
    registry(spark).values.toSeq.sortBy(_.name)

  /** Resolve a possibly `stage://`-prefixed path to a concrete location
    * (stage chains like `stage://sub/x` → `stage://base/a/x` →
    * `file:///root/a/x` resolve recursively); `file://` URLs become
    * local filesystem paths. Non-stage paths pass through unchanged.
    */
  def resolvePath(spark: SparkSession, path0: String): String = {
    var path = path0
    var guard = 0
    while (path.toLowerCase.startsWith("stage://") && guard < 16) {
      guard += 1
      val rest = path.substring("stage://".length)
      val slash = rest.indexOf('/')
      val (name, rel) =
        if (slash < 0) (rest, "") else (rest.substring(0, slash), rest.substring(slash + 1))
      val st = registry(spark).getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(s"internal error: the stage $name not exists"))
      val base = st.url.stripSuffix("/")
      path = if (rel.isEmpty) base else s"$base/$rel"
    }
    if (path.toLowerCase.startsWith("file://"))
      path.substring("file://".length) // file:///x → /x
    else path
  }

  /** `SHOW STAGES` rows (STAGE_NAME, URL, STATUS, COMMENT). */
  def showDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    list(spark).map(s => (s.name, s.url, "in_use", s.comment))
      .toDF("STAGE_NAME", "URL", "STATUS", "COMMENT")
  }
}
