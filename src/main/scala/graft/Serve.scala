package graft

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.spark.sql.SparkSession
import graft.registries.Jsonl

/** Long-lived service interface — kiara's zmq daemon re-expressed
  * without the zmq dependency (reference src/kiara/zmq/: client.py
  * KiaraZmqClient, service/__init__.py:116 KiaraZmqAPI.service_loop,
  * messages/__init__.py KiaraApiMsgBuilder). One Spark session serves
  * many requests: the session/JVM/codegen warmup is paid once, every
  * subsequent query runs warm — the deployment shape a shared analytics
  * endpoint actually has.
  *
  * Protocol: one JSON object per line in, one per line out (the
  * line-framed twin of kiara's length-framed multipart zmq messages):
  *
  *   {"endpoint":"ping"}                          -> {"endpoint":"ping","result":"pong"}
  *   {"endpoint":"service_status"}                -> state/requests/spark/master
  *   {"endpoint":"query","args":[name,sfDir,rows]} -> {"rows":[{...},...]}  bounded slice
  *   {"endpoint":"cli","args":[verb,...]}         -> {"stdout":"...","stderr":""}
  *   {"endpoint":"shutdown"}  (or "stop")         -> {"result":"ok"} and the loop ends
  *
  * Endpoint semantics mirror the zmq service loop exactly
  * (service/__init__.py:151-181: ping -> "pong", shutdown/stop ends the
  * loop, service_status reports state + config, cli dispatches a CLI
  * invocation and returns its captured stdout/stderr, unknown endpoints
  * return an error object instead of crashing the service). The
  * containment covers parsing too: requests are read with the one JSON
  * codec ([[graft.registries.Jsonl]]), so a line that is not JSON, a
  * non-array `args` or an argument of any length gets an error object,
  * and the session keeps serving. The `cli`
  * endpoint exposes the WHOLE registry/value/render surface ([[Cli]]),
  * so a client can run queries, fetch value slices, and drive registry
  * verbs over one live session — kiara's proxy_cli path (:171).
  *
  * Transports: `graft.Serve stdin` serves the process's stdin/stdout;
  * `graft.Serve tcp <port> [infoFile]` binds 127.0.0.1 and serves
  * connections sequentially (REQ/REP discipline, like the zmq REP
  * socket). The optional info file mirrors kiara's service lock file
  * (zmq/__init__.py:85-114: written at start with pid/host/port,
  * refused if already present, deleted at shutdown) so other processes
  * can discover a running service (:44 zmq_context_registered).
  */
object Serve {

  /** One live service session: stateless request dispatch over a shared
    * SparkSession + request counter (testable without any socket). */
  final class Session(spark: SparkSession) {
    private val served = new AtomicLong(0L)
    @volatile private var stopped = false
    def isStopped: Boolean = stopped
    def requestsServed: Long = served.get()

    private def ok(endpoint: String, fields: (String, Any)*): String =
      Jsonl.line(("endpoint" -> endpoint) +: fields: _*)

    /** Handle one request line; returns the response line. Malformed or
      * failing requests return an error object — the service never dies
      * on a bad request (zmq loop's per-request error containment): a
      * line that is not one JSON object with a string `endpoint` gets
      * an `error` object, and every endpoint runs inside [[run]],
      * argument parsing included. */
    def handle(line: String): String = {
      served.incrementAndGet()
      val req = Jsonl.readObject(line)
      req.flatMap(Jsonl.text(_, "endpoint")) match {
        case None => ok("error", "error" -> s"malformed request (no endpoint): $line")
        case Some(e) => run(e)(dispatch(e, req.get))
      }
    }

    /** The `args` array; strings arrive as their value, other scalars
      * (a bare row limit `3`, `true`, `null`) as their JSON text. */
    private def args(req: JsonNode): Seq[String] = req.get("args") match {
      case null => Seq.empty
      case a if a.isArray => a.asScala.map(n => if (n.isTextual) n.textValue else n.toString).toSeq
      case other => throw new IllegalArgumentException(
        s"'args' must be a JSON array, got ${other.getNodeType.toString.toLowerCase}")
    }

    private def dispatch(endpoint: String, req: JsonNode): String = endpoint match {
      case "ping" => ok("ping", "result" -> "pong")
      case "shutdown" | "stop" =>
        stopped = true
        ok(endpoint, "result" -> "ok")
      case "service_status" =>
        ok("service_status",
          "state" -> "running",
          "requests" -> served.get(),
          "spark" -> spark.version,
          "master" -> spark.sparkContext.master,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
      case "query" =>
        val a = args(req)
        require(a.size >= 2, "query needs args [name, sfDir, rows?]")
        val rows = Cli.rowsArg(a.drop(2).toList)
        val fn = Cli.query(a.head)
        // bounded slice as JSON rows — never more than `rows` rows
        // materialize, whatever the query's result size; Spark's own row
        // JSON is embedded verbatim, not re-parsed
        val body = fn(spark, a(1)).limit(rows).toJSON.collect().mkString("[", ",", "]")
        ok("query", "rows" -> new RawValue(body))
      case "cli" =>
        ok("cli", "stdout" -> Cli.run(spark, args(req).toArray), "stderr" -> "")
      case other =>
        ok(other, "error" -> (s"unknown endpoint: $other " +
          "(available: ping, service_status, query, cli, shutdown, stop)"))
    }

    private def run(endpoint: String)(body: => String): String =
      try body catch {
        case e: Throwable =>
          // getMessage is null for bare NPEs etc. — fall back to the
          // exception's class name
          val msg = if (e.getMessage != null) e.getMessage else e.toString
          if (endpoint == "cli") ok("cli", "stdout" -> "", "stderr" -> msg)
          else ok(endpoint, "error" -> msg)
      }
  }

  /** Serve request lines from `in` to `out` until shutdown or EOF;
    * returns the number of requests served. */
  def loop(spark: SparkSession, in: InputStream, out: OutputStream): Long = {
    val session = new Session(spark)
    serveStream(session, in, out)
    session.requestsServed
  }

  private def serveStream(session: Session, in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, "UTF-8"))
    val writer = new PrintWriter(new java.io.OutputStreamWriter(out, "UTF-8"), true)
    var line = reader.readLine()
    while (line != null && !session.isStopped) {
      if (line.trim.nonEmpty) writer.println(session.handle(line))
      line = if (session.isStopped) null else reader.readLine()
    }
  }

  /** TCP server on 127.0.0.1: binds `port` (0 = ephemeral), optionally
    * registers the service info file, then serves connections
    * SEQUENTIALLY — one request/response conversation at a time, the
    * REP-socket discipline — until a client sends shutdown/stop.
    * `onBound` receives the actual bound port (specs bind port 0). */
  def serveTcp(spark: SparkSession, port: Int, infoFile: Option[String] = None,
               onBound: Int => Unit = _ => ()): Long = {
    val server = new ServerSocket(port, 1, InetAddress.getByName("127.0.0.1"))
    val bound = server.getLocalPort
    var registered = false
    try {
      // service registration: refuse a duplicate, write pid/host/port,
      // delete at shutdown (kiara zmq/__init__.py:85-114)
      infoFile.foreach { f =>
        val p = Paths.get(f)
        require(!Files.exists(p), s"service info file already present: $f " +
          "(another service running on this context?)")
        if (p.getParent != null) Files.createDirectories(p.getParent)
        Files.write(p, (Jsonl.line("process_id" -> ProcessHandle.current().pid(),
          "host" -> "127.0.0.1", "port" -> bound) + "\n").getBytes("UTF-8"))
        registered = true
      }
      val session = new Session(spark)
      onBound(bound)
      while (!session.isStopped) {
        val sock: Socket = server.accept()
        // per-CONNECTION containment to match the per-REQUEST containment
        // inside handle(): one client's connection reset / half-open
        // socket / write failure must not kill the long-lived service —
        // log and keep accepting; only shutdown/stop exits the loop
        try serveStream(session, sock.getInputStream, sock.getOutputStream)
        catch {
          case e: java.io.IOException =>
            System.err.println(s"[graft.serve] connection error (continuing): $e")
        }
        finally sock.close()
      }
      session.requestsServed
    } finally {
      server.close()
      // only remove a file THIS service wrote — a refused duplicate
      // leaves the incumbent's registration untouched
      if (registered) infoFile.foreach(f => Files.deleteIfExists(Paths.get(f)))
    }
  }

  /** One-shot client request (kiara zmq/client.py KiaraZmqClient.request):
    * connect, send one line, read one line, close. */
  def request(host: String, port: Int, line: String): String = {
    val sock = new Socket(host, port)
    try {
      val w = new PrintWriter(new java.io.OutputStreamWriter(
        sock.getOutputStream, "UTF-8"), true)
      val r = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
      w.println(line)
      val resp = r.readLine()
      require(resp != null, s"service at $host:$port closed without responding")
      resp
    } finally sock.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.create(Sessions.cpus)
    try args.toList match {
      case Nil | List("stdin") =>
        loop(spark, System.in, System.out)
      case "tcp" :: rest =>
        val port = rest.headOption.map(_.toInt).getOrElse(0)
        serveTcp(spark, port, rest.drop(1).headOption,
          p => System.err.println(s"[serve] listening on 127.0.0.1:$p"))
      case other =>
        throw new IllegalArgumentException(
          s"usage: Serve [stdin | tcp <port> [infoFile]] (got: ${other.mkString(" ")})")
    } finally spark.stop()
  }
}
