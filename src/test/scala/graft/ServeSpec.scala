package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}

/** graft.Serve — the long-lived service interface (kiara zmq daemon twin:
  * reference src/kiara/zmq/service/__init__.py:116 service_loop,
  * client.py KiaraZmqClient). */
class ServeSpec extends SparkTestBase {

  private def session = new Serve.Session(spark)

  test("ping, service_status, shutdown semantics mirror the zmq loop") {
    val s = session
    assert(s.handle("""{"endpoint":"ping"}""")
      == """{"endpoint":"ping","result":"pong"}""")
    val status = s.handle("""{"endpoint":"service_status"}""")
    assert(status.contains(""""state":"running""""))
    assert(status.contains(""""requests":2""")) // this is the 2nd request
    assert(status.contains(""""spark":"""))
    assert(!s.isStopped)
    assert(s.handle("""{"endpoint":"stop"}""").contains(""""result":"ok""""))
    assert(s.isStopped)
  }

  test("query endpoint runs a registered query and returns a bounded JSON slice") {
    val s = session
    val resp = s.handle(
      s"""{"endpoint":"query","args":["q1_agg","$sfDir","3"]}""")
    assert(resp.startsWith("""{"endpoint":"query","rows":["""))
    assert(resp.contains("l_returnflag") && resp.contains("sum_qty"))
    // bounded: 3 row objects, no more
    assert(resp.split("l_returnflag", -1).length - 1 == 3)
    // an unknown query is an error OBJECT, not a dead service
    val bad = s.handle("""{"endpoint":"query","args":["nope","x"]}""")
    assert(bad.contains(""""error":"""") && bad.contains("unknown query"))
    assert(!s.isStopped)
    assert(s.handle("""{"endpoint":"ping"}""").contains("pong")) // still alive
  }

  test("cli endpoint exposes the registry/value surface over one live session") {
    import spark.implicits._
    val root = graft.sources.Export.tempDir("graft_serve_cli_").toString
    new GraftApi(spark, root).storeValue("corpus",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("cv"))
    val s = session
    val list = s.handle(s"""{"endpoint":"cli","args":["data","$root","list"]}""")
    assert(list.contains("corpus") && list.contains("aliases: cv"))
    val load = s.handle(s"""{"endpoint":"cli","args":["data","$root","load","cv","1"]}""")
    assert(load.contains("| id") && load.contains(""""stderr":"""""))
    // a CLI usage error comes back on stderr (zmq call_cli's capture contract)
    val err = s.handle("""{"endpoint":"cli","args":["no-such-verb"]}""")
    assert(err.contains(""""stdout":""""") && err.contains("usage"))
  }

  test("cli requests on one root share its one live context") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.registries.{Jsonl, RegistryEvents, WorkflowRegistry}
    val root = graft.sources.Export.tempDir("graft_serve_live_").toString
    val api = GraftContexts.at(spark, root)
    assert(GraftContexts.at(spark, root + "/.") eq api)
    api.storeValue("corpus", Seq((1L, 5L), (2L, 90L)).toDF("id", "qty"), Some("cv"))
    graft.plans.OpRegistry.register("serve_live_id", df => df)
    api.workflows.registerOps("nightly",
      Seq(WorkflowRegistry.OpStep("s1", "serve_live_id", "in")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[RegistryEvents.Event]()
    api.onRegistryEvent(seen.add(_))
    val s = session
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def cli(args: String*): String = {
      val o = json.readTree(s.handle(Jsonl.line("endpoint" -> "cli", "args" -> args)))
      assert(o.path("stderr").asText("") == "", s"$args: ${o.path("stderr").asText("")}")
      o.path("stdout").asText("")
    }
    (1 to 8).foreach(i => assert(cli("metadata", root, "add", "corpus", s"k$i", s"v$i")
      .startsWith(s"attached: k$i -> corpus")))
    (1 to 4).foreach(i => assert(cli("workflow", root, "alias", s"wa$i", "nightly")
      == s"workflow alias set: wa$i -> nightly"))
    (1 to 3).foreach(_ => assert(cli("data", root, "list").contains("aliases: cv")))
    (1 to 2).foreach(_ => assert(cli("jobs", root, "list") == "no jobs recorded"))
    // the listener on the live instance saw every write the requests made
    val events = seen.asScala.toSeq
    assert(events.collect { case m: RegistryEvents.MetadataStored => m.key } ==
      (1 to 8).map(i => s"k$i"))
    assert(events.collect { case RegistryEvents.WorkflowStored(n, true) => n } ==
      (1 to 4).map(i => s"wa$i"))
    assert(GraftContexts.at(spark, root) eq api)
    // a pipeline persisted through a separate instance resolves on the
    // next lookup, and runs bound to the live instance: its inner run is
    // recorded on the live bus
    new GraftApi(spark, root).registerPipeline("serve_live",
      Seq(WorkflowRegistry.OpStep("p1", "serve_live_id", "t")))
    assert(cli("pipeline", root, "ops").contains("pipeline.serve_live"))
    assert(cli("run", root, "pipeline.serve_live", "cv").contains("| qty"))
    assert(seen.asScala.exists {
      case RegistryEvents.JobRecordStored(run, _, _) => run.startsWith("pipeline.serve_live-run-")
      case _ => false
    })
    // a deleted root gets a new context: empty, as a fresh root is
    graft.sources.Export.deleteTree(Paths.get(root))
    assert(cli("data", root, "list") == "no values stored")
    assert(s.requestsServed == 20)
    val rebuilt = GraftContexts.at(spark, root)
    assert(rebuilt ne api)
    // another SparkSession gets its own instance
    val other = spark.newSession()
    val onOther = GraftContexts.at(other, root)
    assert((onOther ne rebuilt) && (onOther.spark eq other))
    assert(GraftContexts.at(other, root) eq onOther)
  }

  test("Cli and Serve construct no GraftApi: they look contexts up") {
    val dir = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(dir), s"run from the repo root (cwd: ${Paths.get("").toAbsolutePath})")
    val hits = Seq("Cli.scala", "Serve.scala")
      .filter(f => Files.readString(dir.resolve(f)).contains("new GraftApi"))
    assert(hits.isEmpty, s"take contexts from GraftContexts.at, not a new GraftApi: $hits")
  }

  test("stream loop serves many requests and ends cleanly on shutdown") {
    val in = new ByteArrayInputStream(
      Seq("""{"endpoint":"ping"}""",
        """{"endpoint":"nope"}""",
        """{"endpoint":"shutdown"}""",
        """{"endpoint":"ping"}""" // after shutdown: must NOT be served
      ).mkString("\n").getBytes("UTF-8"))
    val out = new ByteArrayOutputStream()
    val served = Serve.loop(spark, in, out)
    val lines = out.toString("UTF-8").trim.split("\n").toSeq
    assert(served == 3) // ping, unknown, shutdown — not the trailing ping
    assert(lines.size == 3)
    assert(lines(0).contains("pong"))
    assert(lines(1).contains("unknown endpoint"))
    assert(lines(2).contains(""""result":"ok""""))
  }

  test("tcp transport: two requests over one live service, info file lifecycle") {
    val infoFile = graft.sources.Export.tempDir("graft_serve_tcp_").toString + "/svc.json"
    @volatile var port = 0
    val latch = new java.util.concurrent.CountDownLatch(1)
    val server = new Thread(() =>
      Serve.serveTcp(spark, 0, Some(infoFile), p => { port = p; latch.countDown() }))
    server.setDaemon(true)
    server.start()
    assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // service registered: pid/host/port discoverable (kiara zmq lock file)
    val info = new String(Files.readAllBytes(Paths.get(infoFile)), "UTF-8")
    assert(info.contains(s""""port":$port""") && info.contains(""""process_id":"""))
    // two requests over the live service (separate connections, REP-style)
    assert(Serve.request("127.0.0.1", port, """{"endpoint":"ping"}""").contains("pong"))
    val st = Serve.request("127.0.0.1", port, """{"endpoint":"service_status"}""")
    assert(st.contains(""""requests":2"""))
    // clean shutdown: loop exits, info file deleted
    assert(Serve.request("127.0.0.1", port, """{"endpoint":"shutdown"}""").contains("ok"))
    server.join(30000)
    assert(!server.isAlive)
    assert(!Files.exists(Paths.get(infoFile)))
  }

  test("bare JSON scalars in args are parsed, not silently dropped") {
    val s = session
    // unquoted row limit: {"args":["q1_agg","<dir>",2]} must bound to 2
    // rows, not fall back to the default 20
    val resp = s.handle(
      s"""{"endpoint":"query","args":["q1_agg","$sfDir",2]}""")
    assert(resp.startsWith("""{"endpoint":"query","rows":["""))
    assert(resp.split("l_returnflag", -1).length - 1 == 2)
    // booleans/null arrive as their literal token text
    val cli = s.handle("""{"endpoint":"cli","args":[true]}""")
    assert(cli.contains("usage")) // reached Cli.run with arg "true"
  }

  test("a malformed or oversized request gets an error object; the session keeps serving") {
    val s = session
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def response(line: String) = {
      val resp = s.handle(line)
      val o = json.readTree(resp)
      assert(o.isObject, s"not one JSON object: ${resp.take(200)}")
      o
    }
    def field(o: com.fasterxml.jackson.databind.JsonNode, k: String) = o.path(k).asText("")
    val big = "x" * 10000
    // a 10,000-char argument: the cli verb is unknown, the query too
    val cli = response(s"""{"endpoint":"cli","args":["$big"]}""")
    assert(field(cli, "stderr").contains("usage"))
    val query = response(s"""{"endpoint":"query","args":["$big","$sfDir"]}""")
    assert(field(query, "error").contains("unknown query"))
    // not JSON at all
    val garbage = response("""{"endpoint":"ping" this is not json""")
    assert(field(garbage, "error").contains("malformed request"))
    // args that are not an array
    val notArray = response("""{"endpoint":"cli","args":"x"}""")
    assert(field(notArray, "stderr").contains("'args' must be a JSON array"))
    // a row limit that is not a number: Cli's usage error, not Java's
    val rows = response(s"""{"endpoint":"query","args":["q1_agg","$sfDir","x"]}""")
    assert(field(rows, "error") == "expected a row count, got: x")
    assert(!s.isStopped)
    assert(s.handle("""{"endpoint":"ping"}""") == """{"endpoint":"ping","result":"pong"}""")
  }

  test("tcp transport: one misbehaving connection does not kill the service") {
    @volatile var port = 0
    val latch = new java.util.concurrent.CountDownLatch(1)
    val server = new Thread(() =>
      Serve.serveTcp(spark, 0, None, p => { port = p; latch.countDown() }))
    server.setDaemon(true)
    server.start()
    assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // client 1 connects, starts a request line, then resets the
    // connection without finishing — the accept loop must contain the
    // IOException and keep serving
    val bad = new java.net.Socket("127.0.0.1", port)
    bad.setSoLinger(true, 0) // RST on close, not FIN: a genuine abort
    bad.getOutputStream.write("""{"endpoint":"ping"""".getBytes("UTF-8"))
    bad.getOutputStream.flush()
    bad.close()
    // client 2 on a fresh connection is served normally
    assert(Serve.request("127.0.0.1", port, """{"endpoint":"ping"}""").contains("pong"))
    assert(Serve.request("127.0.0.1", port, """{"endpoint":"shutdown"}""").contains("ok"))
    server.join(30000)
    assert(!server.isAlive)
  }

  test("duplicate service registration is refused loudly") {
    val infoFile = graft.sources.Export.tempDir("graft_serve_dup_").toString + "/svc.json"
    Files.write(Paths.get(infoFile), "{}".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Serve.serveTcp(spark, 0, Some(infoFile))
    }
    assert(e.getMessage.contains("already present"))
    assert(Files.exists(Paths.get(infoFile))) // the existing file is untouched
  }
}
