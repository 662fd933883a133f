package graft

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
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
  * return an error object instead of crashing the service). The `cli`
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

    private val EndpointRe = """"endpoint"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    private val ArgsRe = """"args"\s*:\s*\[((?:[^\]"]|"(?:[^"\\]|\\.)*")*)\]""".r
    // array elements: quoted strings OR bare JSON scalars (numbers,
    // booleans, null) — a bare row limit in {"args":["q1","dir",3]} must
    // not be silently dropped (it used to fall back to the default 20)
    private val TokenRe =
      """"((?:[^"\\]|\\.)*)"|(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|true|false|null)""".r

    private def ok(endpoint: String, fields: (String, String)*): String =
      (s""""endpoint":"${Jsonl.esc(endpoint)}"""" +: fields.map { case (k, v) => s""""$k":$v""" })
        .mkString("{", ",", "}")
    private def str(s: String): String = "\"" + Jsonl.esc(s) + "\""

    /** Handle one request line; returns the response line. Malformed or
      * failing requests return an error object — the service never dies
      * on a bad request (zmq loop's per-request error containment). */
    def handle(line: String): String = {
      served.incrementAndGet()
      val endpoint = EndpointRe.findFirstMatchIn(line).map(m => Jsonl.unesc(m.group(1)))
      val args: Seq[String] = ArgsRe.findFirstMatchIn(line).map(m =>
        TokenRe.findAllMatchIn(m.group(1)).map(q =>
          if (q.group(1) != null) Jsonl.unesc(q.group(1)) else q.group(2)).toSeq)
        .getOrElse(Seq.empty)
      endpoint match {
        case None =>
          ok("error", "error" -> str(s"malformed request (no endpoint): $line"))
        case Some("ping") => ok("ping", "result" -> str("pong"))
        case Some(e @ ("shutdown" | "stop")) =>
          stopped = true
          ok(e, "result" -> str("ok"))
        case Some("service_status") =>
          ok("service_status",
            "state" -> str("running"),
            "requests" -> served.get().toString,
            "spark" -> str(spark.version),
            "master" -> str(spark.sparkContext.master),
            "shuffle_partitions" -> str(spark.conf.get("spark.sql.shuffle.partitions")))
        case Some("query") =>
          run("query") {
            require(args.size >= 2, "query needs args [name, sfDir, rows?]")
            val rows = if (args.size >= 3) args(2).toInt else 20
            val fn = SparkEntry.queries.getOrElse(args.head,
              throw new IllegalArgumentException(s"unknown query: ${args.head}"))
            // bounded slice as JSON rows — never more than `rows` rows
            // materialize, whatever the query's result size
            val body = fn(spark, args(1)).limit(rows).toJSON.collect().mkString(",")
            ok("query", "rows" -> s"[$body]")
          }
        case Some("cli") =>
          run("cli") {
            val out = Cli.run(spark, args.toArray)
            ok("cli", "stdout" -> str(out), "stderr" -> str(""))
          }
        case Some(other) =>
          ok(other, "error" -> str(s"unknown endpoint: $other " +
            "(available: ping, service_status, query, cli, shutdown, stop)"))
      }
    }

    private def run(endpoint: String)(body: => String): String =
      try body catch {
        case e: Throwable =>
          // getMessage is null for bare NPEs etc.; esc(null) would throw
          // FROM the catch and kill the stream despite the containment
          // contract — fall back to the exception's class name
          val msg = if (e.getMessage != null) e.getMessage else e.toString
          if (endpoint == "cli")
            ok("cli", "stdout" -> str(""), "stderr" -> str(msg))
          else ok(endpoint, "error" -> str(msg))
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
        Files.write(p, (s"""{"process_id":${ProcessHandle.current().pid()},""" +
          s""""host":"127.0.0.1","port":$bound}""" + "\n").getBytes("UTF-8"))
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
