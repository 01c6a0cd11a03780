package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `llm_chat` / `llm_embedding` — the reference's LLM builtins
  * (`pkg/sql/plan/function/func_builtin_llm.go`: signature
  * `(server, addr, model, options, query)`, one `llm.LLMClient` built
  * lazily per operator and reused for every row,
  * `pkg/monlp/llm/`). The Spark-side plumbing here is real — pluggable
  * backend registry, one client per (config, executor) reused across
  * rows, batched `mapPartitions` pipeline form — while the only
  * backend shipped is the deterministic `stub` (this container has no
  * model endpoint; an HTTP backend plugs in via [[LlmBackend]] without
  * touching the operator).
  */
object Llm {

  /** One logical client, built once per config per executor. */
  trait LlmClient extends Serializable {
    def chat(query: String): String
    def embed(text: String): Array[Float]
  }

  /** Backend factory, keyed by the `server` argument ("stub" here;
    * "ollama"/"openai" would construct HTTP clients from addr/model).
    */
  trait LlmBackend extends Serializable {
    def create(addr: String, model: String, options: String): LlmClient
  }

  /** Deterministic stand-in: chat answers are a stable digest-derived
    * summary of the query; embeddings are unit-norm pseudo-vectors
    * hashed from the text — same text, same vector, every run.
    */
  final class StubBackend extends LlmBackend {
    override def create(addr: String, model: String, options: String): LlmClient =
      new LlmClient {
        override def chat(query: String): String = {
          if (query == null) return null
          val words = query.trim.split("\\s+").take(4).mkString(" ")
          val h = java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(query))
          s"[$model@$addr] re: $words… ($h)"
        }
        override def embed(text: String): Array[Float] = {
          if (text == null) return null
          val dim = 64
          val out = new Array[Float](dim)
          var i = 0
          var norm = 0.0
          while (i < dim) {
            val v = scala.util.hashing.MurmurHash3.stringHash(text, i * 2654435761L.toInt)
            out(i) = (v % 1000) / 1000.0f
            norm += out(i) * out(i)
            i += 1
          }
          val n = math.sqrt(norm).toFloat
          if (n > 0) { i = 0; while (i < dim) { out(i) /= n; i += 1 } }
          out
        }
      }
  }

  /** REAL HTTP backend (ollama-shaped JSON protocol): `chat` POSTs
    * `{"model":…,"query":…}` to `addr/chat` and reads `{"text":…}`;
    * `embed` POSTs to `addr/embed` and reads `{"embedding":[…]}`.
    * One keep-alive client per (config, executor) via the registry;
    * LlmSpec drives it end-to-end against an in-process JDK HttpServer,
    * proving the seam carries a real backend unchanged.
    */
  final class HttpBackend extends LlmBackend {
    override def create(addr: String, model: String, options: String): LlmClient =
      new LlmClient {
        private def post(path: String, bodyJson: String): String = {
          val url = java.net.URI.create(s"$addr/$path").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          conn.setRequestProperty("Content-Type", "application/json")
          val bytes = bodyJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          conn.getOutputStream.write(bytes)
          val in = conn.getInputStream
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally { in.close(); conn.disconnect() }
        }
        private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        private def req(q: String): String = {
          val n = mapper.createObjectNode()
          n.put("model", model)
          n.put("query", q)
          if (options.nonEmpty) n.put("options", options)
          n.toString
        }
        override def chat(query: String): String = {
          if (query == null) return null
          mapper.readTree(post("chat", req(query))).get("text").asText()
        }
        override def embed(text: String): Array[Float] = {
          if (text == null) return null
          val arr = mapper.readTree(post("embed", req(text))).get("embedding")
          Array.tabulate(arr.size())(i => arr.get(i).floatValue())
        }
      }
  }

  private val backends = new java.util.concurrent.ConcurrentHashMap[String, LlmBackend]()
  backends.put("stub", new StubBackend)
  backends.put("http", new HttpBackend)

  /** Register a backend under a server name (cluster-wide: call before
    * jobs run, or ship the backend in the application jar).
    */
  def registerBackend(server: String, b: LlmBackend): Unit = backends.put(server, b)

  // per-executor client cache: one client per configuration, like the
  // reference's lazily-initialized op.llmClient
  @transient private lazy val clients =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), LlmClient]()

  private def client(server: String, addr: String, model: String, options: String): LlmClient =
    clients.computeIfAbsent((server, addr, model, options), _ => {
      val b = backends.get(server)
      require(b != null, s"llm: unknown server backend '$server' " +
        s"(registered: ${java.util.Collections.list(backends.keys()).toArray.mkString(", ")})")
      b.create(addr, model, options)
    })

  private lazy val echoMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def nullCheck(server: String, addr: String, model: String): Unit = {
    if (server == null) throw new IllegalArgumentException(
      "invalid input: llm_chat: server must not be null")
    if (addr == null) throw new IllegalArgumentException(
      "invalid input: llm_chat: addr must not be null")
    if (model == null) throw new IllegalArgumentException(
      "invalid input: llm_chat: model must not be null")
  }

  /** The reference's mock server (`pkg/monlp/llm/mockllm.go`): server ""
    * + model "echo" — chat returns the LAST message's content of the
    * JSON message array, embedding is [len(text), xxhash64(text)/1e10].
    */
  def chatOnce(server: String, addr: String, model: String, options: String,
      query: String): String = {
    nullCheck(server, addr, model)
    if (server.isEmpty) {
      if (model != "echo")
        throw new IllegalArgumentException(s"invalid input: invalid model: $model")
      if (query == null) return null
      val t = query.trim
      val node =
        try echoMapper.readTree(query)
        catch { case _: Exception => throw new IllegalArgumentException(
          s"invalid character '${t.headOption.getOrElse(' ')}' looking for beginning of value") }
      if (node == null || !node.isArray)
        throw new IllegalArgumentException(
          "json: cannot unmarshal object into Go value of type []llm.Message")
      if (node.size() == 0)
        throw new IllegalArgumentException("invalid input: no messages")
      node.get(node.size() - 1).path("content").asText()
    } else client(server, addr, model, options).chat(query)
  }

  def embedOnce(server: String, addr: String, model: String, options: String,
      text: String): Array[Float] = {
    nullCheck(server, addr, model)
    if (server.isEmpty) {
      if (model != "echo")
        throw new IllegalArgumentException(s"invalid input: invalid model: $model")
      if (text == null) return null
      val b = text.getBytes("UTF-8")
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 0L)
      // Go's float32(uint64) conversion of the unsigned hash
      val u = if (h >= 0) h.toDouble else h.toDouble + math.pow(2, 64)
      Array(b.length.toFloat, (u / 1e10).toFloat)
    } else client(server, addr, model, options).embed(text)
  }

  /** Pipeline form: append a chat-completion column, ONE client per
    * partition, rows streamed through it (the shape a real HTTP backend
    * needs for connection reuse/batching).
    */
  def chatColumn(df: DataFrame, queryCol: String, outCol: String,
      server: String = "stub", addr: String = "local", model: String = "stub-1",
      options: String = ""): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.StringType))
    val qIdx = df.schema.fieldIndex(queryCol)
    val rows = df.rdd.mapPartitions { it =>
      val c = client(server, addr, model, options)
      it.map { r =>
        val q = if (r.isNullAt(qIdx)) null else r.getString(qIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c.chat(q))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  private val chatU = udf(chatOnce _)
  private val embedU = udf(embedOnce _)

  def llm_chat(server: Column, addr: Column, model: Column, options: Column,
      query: Column): Column = chatU(server, addr, model, options, query)
  def llm_embedding(server: Column, addr: Column, model: Column, options: Column,
      text: Column): Column = embedU(server, addr, model, options, text)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("llm_chat", udf(chatOnce _))
    ft.udf("llm_embedding", udf(embedOnce _))
  }
}
