package graft

import org.apache.spark.sql.functions._

import graft.cdc._

class ChainConfigSpec extends SparkSpec {

  private lazy val log = Changelog.fromEvents(Tables.events(spark, sfDir))

  test("a config string compiles to the same chain as code") {
    val fromConfig = ChainConfig.parse(
      "event-filter:purchase,click | where:value > 100").run(log)
    val fromCode = Changefeed(Seq(
      EventTypeFilter(Set("purchase", "click")),
      PredicateFilter("hv", col("value") > 100))).run(log)
    assert(fromConfig.exceptAll(fromCode).count() === 0)
    assert(fromCode.exceptAll(fromConfig).count() === 0)
  }

  test("full chain: filter, mask, route, select") {
    val out = ChainConfig.parse(
      "op-filter:U | mask:props=keep2,event_type=sha256 | " +
        "route:keymod/8 | select:seq,key,props,__partition").run(log)
    assert(out.columns.toSeq === Seq("seq", "key", "props", "__partition"))
    assert(out.count() > 0)
    assert(out.where(!col("props").startsWith("****")).count() === 0)
    assert(out.where(col("__partition") =!= pmod(col("key"), lit(8L))).count() === 0)
  }

  test("physical route flag repartitions") {
    val out = ChainConfig.parse("route:keyhash/4/physical").run(log)
    assert(out.rdd.getNumPartitions === 4)
  }

  test("transform: stage resolves a runtime-registered transform by name " +
    "(the no-recompilation plugin boundary)") {
    ChainConfig.registerTransform("double-value",
      df => df.withColumn("value", col("value") * 2))
    try {
      val out = ChainConfig.parse(
        "event-filter:purchase | transform:double-value").run(log)
      val reference = Changefeed(Seq(
        EventTypeFilter(Set("purchase")),
        TransformPlugin("x", df => df.withColumn("value", col("value") * 2))))
        .run(log)
      assert(out.exceptAll(reference).count() === 0)
      assert(reference.exceptAll(out).count() === 0)
    } finally ChainConfig.unregisterTransform("double-value")
  }

  test("transform: unknown name fails at run time with a registration hint") {
    val chain = ChainConfig.parse("transform:not-registered") // parse is fine
    val e = intercept[IllegalArgumentException](chain.run(log))
    assert(e.getMessage.contains("registerTransform"))
  }

  test("sql: stage runs session-registered functions - the multi-language " +
    "UDF boundary (python/any binding registers, the chain references)") {
    // stand-in for a UDF registered from another language binding: the
    // registration API and the resulting catalog entry are identical
    spark.udf.register("chain_bump", (v: Double) => v + 1000.0)
    val out = ChainConfig.parse(
      "event-filter:purchase | sql:SELECT key, chain_bump(value) AS value FROM __input__")
      .run(log)
    val reference = Changefeed(Seq(EventTypeFilter(Set("purchase")))).run(log)
      .selectExpr("key", "value + 1000.0 AS value")
    assert(out.columns.toSeq === Seq("key", "value"))
    assert(out.exceptAll(reference).count() === 0)
    assert(reference.exceptAll(out).count() === 0)
    // the stage's input view is gone once the stage is built
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__chain_input_")))
  }

  test("transform: stage round-trips rows through an external python3 " +
    "process — the out-of-process multi-language plugin boundary") {
    // The RFC's plugin-runner pitch (README.md:44-48): a plugin in a
    // foreign runtime, attached by config, no pipeline recompilation.
    // RDD.pipe spawns the process per partition; rows cross as JSON
    // lines; the declared schema re-types the output.
    val script =
      """import sys, json
        |for line in sys.stdin:
        |    r = json.loads(line)
        |    print(json.dumps({"seq": r["seq"], "key": r["key"],
        |                      "tag": "py:%d" % (r["key"] % 10)}))
        |""".stripMargin
    PipedTransform.register("py-tag",
      Seq("python3", "-u", "-c", script),
      "seq BIGINT, key BIGINT, tag STRING")
    try {
      val out = ChainConfig.parse(
        "op-filter:U | select:seq,key | transform:py-tag").run(log)
      val reference = ChainConfig.parse("op-filter:U | select:seq,key")
        .run(log)
      assert(out.columns.toSeq === Seq("seq", "key", "tag"))
      assert(out.count() === reference.count())
      assert(out.where(
        col("tag") =!= concat(lit("py:"), pmod(col("key"), lit(10L))))
        .count() === 0)
    } finally ChainConfig.unregisterTransform("py-tag")
  }

  test("strict piped transform fails the batch on unparseable plugin " +
    "output — the poison-batch DLQ trigger") {
    val bad = "import sys\n" +
      "for line in sys.stdin:\n" +
      "    print('definitely-not-json')"
    PipedTransform.register("py-bad",
      Seq("python3", "-u", "-c", bad), "seq BIGINT")
    try {
      val chain = ChainConfig.parse("op-filter:U | transform:py-bad")
      val e = intercept[Throwable](chain.run(log).collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(e).exists(m => m.contains("Malformed") ||
        m.contains("FAILFAST") || m.contains("malformed")),
        s"expected a FAILFAST parse failure, got: ${messages(e)}")
    } finally ChainConfig.unregisterTransform("py-bad")
  }

  test("transform: stage round-trips rows through an external python3 " +
    "HTTP service — the RPC/HTTP plugin-runner form") {
    // The RFC's RPC/HTTP hook (README.md:44-49): the plugin is a
    // NETWORK SERVICE in a foreign runtime; executors post ndjson
    // batches to it. The server binds port 0 and prints the real port.
    val script =
      """import json
        |from http.server import BaseHTTPRequestHandler, HTTPServer
        |class H(BaseHTTPRequestHandler):
        |    def do_POST(self):
        |        n = int(self.headers.get('Content-Length', 0))
        |        body = self.rfile.read(n).decode('utf-8')
        |        out = []
        |        for line in body.splitlines():
        |            if not line.strip(): continue
        |            r = json.loads(line)
        |            out.append(json.dumps({"seq": r["seq"], "key": r["key"],
        |                                   "tag": "http:%d" % (r["key"] % 10)}))
        |        data = "\n".join(out).encode('utf-8')
        |        self.send_response(200)
        |        self.send_header('Content-Length', str(len(data)))
        |        self.end_headers()
        |        self.wfile.write(data)
        |    def log_message(self, *a): pass
        |srv = HTTPServer(('127.0.0.1', 0), H)
        |print(srv.server_port, flush=True)
        |srv.serve_forever()
        |""".stripMargin
    val proc = new ProcessBuilder("python3", "-u", "-c", script).start()
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val port = rd.readLine().trim.toInt
      HttpTransform.register("http-tag",
        s"http://127.0.0.1:$port/transform",
        "seq BIGINT, key BIGINT, tag STRING", batchSize = 64)
      try {
        val out = ChainConfig.parse(
          "op-filter:U | select:seq,key | transform:http-tag").run(log)
        val reference = ChainConfig.parse("op-filter:U | select:seq,key")
          .run(log)
        assert(out.columns.toSeq === Seq("seq", "key", "tag"))
        assert(out.count() === reference.count())
        assert(out.where(
          col("tag") =!= concat(lit("http:"), pmod(col("key"), lit(10L))))
          .count() === 0)
      } finally ChainConfig.unregisterTransform("http-tag")
    } finally proc.destroyForcibly()
  }

  test("HTTP transform fails the batch loudly on a non-200 plugin " +
    "response — the poison-batch DLQ trigger") {
    val script =
      """from http.server import BaseHTTPRequestHandler, HTTPServer
        |class H(BaseHTTPRequestHandler):
        |    def do_POST(self):
        |        n = int(self.headers.get('Content-Length', 0))
        |        self.rfile.read(n)
        |        self.send_response(500)
        |        self.send_header('Content-Length', '5')
        |        self.end_headers()
        |        self.wfile.write(b'crash')
        |    def log_message(self, *a): pass
        |srv = HTTPServer(('127.0.0.1', 0), H)
        |print(srv.server_port, flush=True)
        |srv.serve_forever()
        |""".stripMargin
    val proc = new ProcessBuilder("python3", "-u", "-c", script).start()
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val port = rd.readLine().trim.toInt
      val t = HttpTransform.transform(s"http://127.0.0.1:$port/t",
        org.apache.spark.sql.types.StructType.fromDDL("seq BIGINT")) _
      val e = intercept[Throwable](t(log.limit(10)).collect())
      def messages(x: Throwable): Seq[String] =
        if (x == null) Nil
        else String.valueOf(x.getMessage) +: messages(x.getCause)
      assert(messages(e).exists(_.contains("HTTP 500")),
        s"expected an HTTP 500 failure, got: ${messages(e)}")
    } finally proc.destroyForcibly()
  }

  test("HTTP batch ids are content-derived: identical on redelivery of " +
    "the same batch, distinct across batches — the dedup key a " +
    "side-effecting endpoint needs for exactly-once") {
    // the pure function first: deterministic + discriminating
    assert(HttpTransform.batchId("a\nb") === HttpTransform.batchId("a\nb"))
    assert(HttpTransform.batchId("a\nb") !== HttpTransform.batchId("a\nc"))
    // end to end: the server tags every row with the batch id it saw;
    // two full deliveries of the same frame must observe the SAME id
    // per batch (redelivery is invisible to an id-keyed seen-set).
    val script =
      """import json
        |from http.server import BaseHTTPRequestHandler, HTTPServer
        |class H(BaseHTTPRequestHandler):
        |    def do_POST(self):
        |        n = int(self.headers.get('Content-Length', 0))
        |        bid = self.headers.get('X-Graft-Batch-Id', 'MISSING')
        |        body = self.rfile.read(n).decode('utf-8')
        |        out = []
        |        for line in body.splitlines():
        |            if not line.strip(): continue
        |            r = json.loads(line)
        |            out.append(json.dumps({"seq": r["seq"], "bid": bid}))
        |        data = "\n".join(out).encode('utf-8')
        |        self.send_response(200)
        |        self.send_header('Content-Length', str(len(data)))
        |        self.end_headers()
        |        self.wfile.write(data)
        |    def log_message(self, *a): pass
        |srv = HTTPServer(('127.0.0.1', 0), H)
        |print(srv.server_port, flush=True)
        |srv.serve_forever()
        |""".stripMargin
    val proc = new ProcessBuilder("python3", "-u", "-c", script).start()
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val port = rd.readLine().trim.toInt
      val in = log.where(col("op") === "U").select("seq", "key")
        .orderBy("seq").limit(100).coalesce(1)
      val t = HttpTransform.transform(s"http://127.0.0.1:$port/t",
        org.apache.spark.sql.types.StructType.fromDDL(
          "seq BIGINT, bid STRING"), batchSize = 32) _
      val first = t(in).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val second = t(in).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(first.nonEmpty)
      assert(first.values.forall(_ != "MISSING"))
      assert(first === second,
        "batch ids drifted across an identical redelivery")
      assert(first.values.toSet.size > 1,
        "distinct batches must carry distinct ids")
    } finally proc.destroyForcibly()
  }

  test("malformed configs fail loudly") {
    assert(intercept[IllegalArgumentException](
      ChainConfig.parse("nonsense:x")).getMessage.contains("unknown stage"))
    assert(intercept[IllegalArgumentException](
      ChainConfig.parse("mask:props=rot13")).getMessage.contains("unknown mask"))
    assert(intercept[IllegalArgumentException](
      ChainConfig.parse("route:keymod")).getMessage.contains("route needs"))
  }
}
