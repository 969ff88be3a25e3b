package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

import graft.operators.SaltedAgg
import graft.repl.Replication
import graft.sources.{FileSources, Tables}
import graft.write.{PartitionedWriter, Validation}

/** File-layout, validation, orchestration, and skew operators. */
object FileOps {

  private def scratch(name: String, sfDir: String): String =
    Scratch.dir(name, sfDir)

  def queries: Seq[Q] = Seq(

    // {part_year}/{part_month} masked write → Hive partitions; read back with
    // a partition filter (pruned scan) — partition columns come back typed
    Q("op_partitioned_write",
      (s, dir) => {
        val path = scratch("part_write", dir)
        PartitionedWriter.write(Tables(s, dir, "orders"), path,
          "o_orderdate", Seq("part_year", "part_month"))
        s.read.option("basePath", path).parquet(path)
          .filter(col("part_year") === 1995)
          .select(col("o_orderkey"), col("part_year").cast(LongType),
            col("part_month").cast(LongType), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, year(o_orderdate) AS part_year,
        month(o_orderdate) AS part_month, o_totalprice
        FROM orders WHERE year(o_orderdate) = 1995 ORDER BY o_orderkey""")),

    // file_max_rows splitting (fs.go:875-902): 100-row files; count files by
    // distinct input_file_name on read-back
    Q("op_file_split",
      (s, dir) => {
        val path = scratch("file_split", dir)
        Tables(s, dir, "orders").repartition(1).write.mode("overwrite")
          .option("maxRecordsPerFile", 100).parquet(path)
        s.read.parquet(path)
          .withColumn("__file", input_file_name())
          .agg(countDistinct(col("__file")).cast(LongType).as("n_files"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(ceil(COUNT(*) / 100.0) AS BIGINT) AS n_files,
        COUNT(*) AS n_rows FROM orders""")),

    Q("op_csv_gzip_roundtrip",
      (s, dir) => {
        val path = scratch("csv_gz", dir)
        Tables(s, dir, "customer").write.mode("overwrite")
          .option("header", "true").option("compression", "gzip").csv(path)
        FileSources.csv(s, path, overrides = Map(
          "c_custkey" -> LongType, "c_acctbal" -> DoubleType))
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // zstd CSV round-trip: graft's zstd-jni stream writer/reader (Spark's
    // text path lacks a JVM-only zstd codec; compression.go:38-40)
    Q("op_csv_zstd_roundtrip",
      (s, dir) => {
        val path = scratch("csv_zst", dir)
        graft.write.StagedWrite.replace(s, path)(
          graft.sources.Compression.writeCsvZstd(Tables(s, dir, "customer"), _))
        FileSources.csv(s, path, overrides = Map(
          "c_custkey" -> LongType, "c_acctbal" -> DoubleType))
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // snappy CSV round-trip through the native Hadoop codec path
    Q("op_csv_snappy_roundtrip",
      (s, dir) => {
        val path = scratch("csv_snappy", dir)
        Tables(s, dir, "customer").write.mode("overwrite")
          .option("header", "true").option("compression", "snappy").csv(path)
        FileSources.csv(s, path, overrides = Map(
          "c_custkey" -> LongType, "c_acctbal" -> DoubleType))
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // HTTP fetch-to-staging (fs_http.go): a local fixture server serves the
    // nation table as CSV over real HTTP; the source stages and inference-
    // reads it — no egress, loopback only
    Q("op_http_source",
      (s, dir) => {
        val csvDir = scratch("http_fixture", dir)
        Tables(s, dir, "nation").repartition(1).write.mode("overwrite")
          .option("header", "true").csv(csvDir)
        val csvFile = new java.io.File(csvDir).listFiles()
          .filter(_.getName.endsWith(".csv")).head
        val bytes = java.nio.file.Files.readAllBytes(csvFile.toPath)
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/nation.csv",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val port = server.getAddress.getPort
          val staged = scratch("http_staged", dir)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
          graft.sources.HttpSource.csv(s,
            Seq(s"http://127.0.0.1:$port/nation.csv"), staged)
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Google Sheets source (sheet_google.go GetDataset over the Sheets v4
    // API): a loopback server serves nation as a spreadsheet — metadata +
    // values.get in the v4 JSON shapes — and the reader walks the full
    // protocol (sheet discovery, grid fetch, trailing-blank trim,
    // inference). A live run differs by base URL + a real bearer token
    // (service-account JWT flow covered in GSheetsSpec).
    Q("op_gsheets",
      (s, dir) => {
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val valuesJson = {
          val json = mapper.createObjectNode()
          val arr = json.putArray("values")
          val h = arr.addArray()
          Seq("n_nationkey", "n_name", "n_regionkey").foreach(h.add)
          rows.foreach { r =>
            val a = arr.addArray()
            a.add(r.get(0).toString); a.add(r.getString(1))
            a.add(r.get(2).toString)
          }
          mapper.writeValueAsString(json)
        }
        val metaJson = """{"sheets":[{"properties":{"title":"nation"}}]}"""
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val body = if (ex.getRequestURI.getPath.contains("/values/"))
                valuesJson else metaJson
              val bytes = body.getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.GSheets.Conn(
            baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.GSheets.read(s, conn,
            "https://docs.google.com/spreadsheets/d/graft_nation/edit")
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // object-store seam (fs_s3.go / fs.go:76-134): conf wiring + s3://→s3a://
    // rewrite + a full write/read cycle over a non-file: scheme via the
    // loopback s3a FileSystem — committer rename/list protocol and Spark's
    // distributed split planning all run for real; only the byte transport
    // is local. A real bucket differs by conf values only.
    Q("op_fs_object_store",
      (s, dir) => {
        import graft.sources.FileBackends
        val root = scratch("mock_s3_root", dir)
        val hc = s.sparkContext.hadoopConfiguration
        hc.set("fs.s3a.impl", classOf[graft.sources.LoopbackObjectStore].getName)
        hc.set("fs.s3a.impl.disable.cache", "true")
        hc.set("graft.mock.fs.root", root)
        val conn = FileBackends.Conn(Map(
          "AWS_ACCESS_KEY_ID" -> "AKIATEST", "SECRET_ACCESS_KEY" -> "secret",
          "ENDPOINT" -> "http://127.0.0.1:9000"))
        val uri = FileBackends.configure(s, "s3://graft-bucket/nation", conn)
        Tables(s, dir, "nation").write.mode("overwrite").parquet(uri)
        s.read.parquet(uri)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // sftp/ftp fetch-to-staging through the RemoteTransport seam
    // (fs_sftp.go; non-seekable remotes stage first, fs.go): a loopback
    // transport serves a "remote" directory listing + files from local
    // fixtures; stage() pulls them into staging and the normal distributed
    // inference read takes over. The sftp:// default transport delegates to
    // Hadoop's SFTPFileSystem when jsch is on the deployment classpath.
    Q("op_fs_staging",
      (s, dir) => {
        import graft.sources.FileBackends
        val fixtureDir = scratch("sftp_fixture", dir)
        Tables(s, dir, "region").repartition(1).write.mode("overwrite")
          .option("header", "true").csv(fixtureDir)
        val base = new java.io.File(fixtureDir)
        val loopback = new FileBackends.RemoteTransport {
          def list(dirUrl: String): Seq[String] =
            base.listFiles().filter(_.getName.endsWith(".csv"))
              .map(f => s"sftp://127.0.0.1/${f.getName}").toSeq.sorted
          def fetch(url: String): Array[Byte] =
            java.nio.file.Files.readAllBytes(
              new java.io.File(base, url.split('/').last).toPath)
        }
        val staged = scratch("sftp_staged", dir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
        FileBackends.stage("sftp://127.0.0.1/", staged, loopback)
        FileSources.csv(s, staged, overrides = Map(
          "r_regionkey" -> LongType))
          .orderBy("r_regionkey")
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // Google Drive backend (fs_googledrive.go): a loopback Drive-v3 server
    // holds region as CSV files in a folder tree; the gdrive transport
    // resolves the path through folder parents, lists, downloads to
    // staging, and the normal inference reader takes over
    Q("op_gdrive",
      (s, dir) => {
        import graft.sources.{FileBackends, GDrive}
        val fixtureDir = scratch("gdrive_fixture", dir)
        Tables(s, dir, "region").repartition(1).write.mode("overwrite")
          .option("header", "true").csv(fixtureDir)
        val csvBytes = new java.io.File(fixtureDir).listFiles()
          .filter(_.getName.endsWith(".csv")).toSeq.sortBy(_.getName)
          .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath))
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        // in-memory drive: data/<files>; ids are d1, f1..fn
        val ids = csvBytes.zipWithIndex
          .map { case ((n, b), i) => (s"f$i", n, b) }
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val path = ex.getRequestURI.getPath
              val query = Option(ex.getRequestURI.getQuery).getOrElse("")
              val resp: Array[Byte] =
                if (path.matches("/drive/v3/files/[^/]+") &&
                    query.contains("alt=media"))
                  ids.find(_._1 == path.split("/").last)
                    .map(_._3).getOrElse(Array.empty)
                else {
                  val q = java.net.URLDecoder.decode(query.split("&")
                    .find(_.startsWith("q=")).map(_.drop(2)).getOrElse(""), "UTF-8")
                  val json = mapper.createObjectNode()
                  val arr = json.putArray("files")
                  if (q.contains("'root' in parents"))
                    arr.addObject().put("id", "d1").put("name", "data")
                      .put("mimeType", "application/vnd.google-apps.folder")
                  else ids.filter { case (_, n, _) =>
                      "name='([^']+)'".r.findFirstMatchIn(q)
                        .map(_.group(1)).forall(_ == n) }
                    .foreach { case (id, n, b) =>
                      arr.addObject().put("id", id).put("name", n)
                        .put("mimeType", "text/csv").put("size", b.length)
                    }
                  mapper.writeValueAsString(json).getBytes("UTF-8")
                }
              ex.sendResponseHeaders(200, resp.length.toLong)
              try ex.getResponseBody.write(resp) finally ex.close()
            })
          server.start()
          val conn = FileBackends.Conn(Map("BASE_URL" ->
            s"http://127.0.0.1:${server.getAddress.getPort}"))
          val staged = scratch("gdrive_staged", dir)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
          FileBackends.stage("gdrive://data", staged,
            FileBackends.transportFor("gdrive", conn))
          FileSources.csv(s, staged, overrides = Map(
            "r_regionkey" -> LongType))
            .orderBy("r_regionkey")
        } finally server.stop(0)
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // Elasticsearch search source (database_elasticsearch.go:287-460): a
    // loopback server implements the sliced-scroll protocol over nation
    // docs; each Spark partition scrolls its own server-side slice and the
    // docs type through distributed JSON inference
    Q("op_elastic",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val docs = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
          .map(r => s"""{"n_nationkey":${r.get(0)},"n_name":${
            mapper.writeValueAsString(mapper.getNodeFactory
              .textNode(r.getString(1)))},"n_regionkey":${r.get(2)}}""")
        val scrolls = new java.util.concurrent.ConcurrentHashMap[
          String, java.util.ArrayDeque[Seq[String]]]()
        val nextScroll = new java.util.concurrent.atomic.AtomicInteger(0)
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val body = mapper.readTree(ex.getRequestBody.readAllBytes())
              def respond(hits: Seq[String], sid: String): Unit = {
                val json = mapper.createObjectNode()
                json.put("_scroll_id", sid)
                val arr = json.putObject("hits").putArray("hits")
                hits.foreach(d => arr.addObject()
                  .set[com.fasterxml.jackson.databind.JsonNode](
                    "_source", mapper.readTree(d)))
                val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
                ex.sendResponseHeaders(200, bytes.length.toLong)
                try ex.getResponseBody.write(bytes) finally ex.close()
              }
              if (ex.getRequestURI.getPath == "/_search/scroll") {
                val sid = body.path("scroll_id").asText()
                val q = scrolls.get(sid)
                respond(Option(if (q == null) null else q.pollFirst())
                  .getOrElse(Seq.empty), sid)
              } else {
                val sliceId = body.path("slice").path("id").asInt(0)
                val sliceMax = body.path("slice").path("max").asInt(1)
                val size = body.path("size").asInt(1000)
                val mine = docs.zipWithIndex
                  .filter(_._2 % sliceMax == sliceId).map(_._1)
                val pages = mine.grouped(size).toSeq
                val sid = s"scroll-${nextScroll.incrementAndGet()}"
                val q = new java.util.ArrayDeque[Seq[String]]()
                pages.drop(1).foreach(q.addLast)
                scrolls.put(sid, q)
                respond(pages.headOption.getOrElse(Seq.empty), sid)
              }
            })
          server.start()
          val conn = graft.sources.Elastic.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          // localCheckpoint materializes the scroll BEFORE the server
          // stops — the returned frame must not re-execute the fetch
          graft.sources.Elastic.read(s, conn, "nation",
            slices = 4, pageSize = 7)
            .localCheckpoint(true)
            .select(col("n_nationkey").cast(LongType), col("n_name"),
              col("n_regionkey").cast(LongType))
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Azure Table source (database_azuretable.go): a loopback Table-service
    // server holds nation as entities; the reader follows continuation
    // tokens and rows type through JSON inference. Signatures covered in
    // AzTableSpec (server-verified SharedKeyLite).
    Q("op_aztable",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val ents = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
          .map(r => s"""{"PartitionKey":"p","RowKey":"${r.get(0)}",""" +
            s""""n_nationkey":${r.get(0)},"n_name":${
              mapper.writeValueAsString(mapper.getNodeFactory
                .textNode(r.getString(1)))},"n_regionkey":${r.get(2)}}""")
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val query = Option(ex.getRequestURI.getQuery).getOrElse("")
              val start = query.split("&").find(_.startsWith("NextRowKey="))
                .map(_.drop("NextRowKey=".length).toInt).getOrElse(0)
              val page = ents.slice(start, start + 7)
              val json = mapper.createObjectNode()
              val arr = json.putArray("value")
              page.foreach(e => arr.add(mapper.readTree(e)))
              if (start + 7 < ents.size) {
                json.put("odata.nextPartitionKey", "pk")
                json.put("odata.nextRowKey", (start + 7).toString)
              }
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.AzTable.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.AzTable.read(s, conn, "nation")
            .select(col("n_nationkey").cast(LongType), col("n_name"),
              col("n_regionkey").cast(LongType))
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Prometheus source (database_prometheus.go): a loopback query_range
    // endpoint serves one series per nation; the reader splits the time
    // range into half-open chunks (one Spark partition each) and flattens
    // the matrix to label+ts+value rows
    Q("op_prometheus",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val base = 1700000000L
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val q = ex.getRequestURI.getQuery.split("&")
                .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
              val (start, end) = (q("start").toLong, q("end").toLong)
              val json = mapper.createObjectNode()
              json.put("status", "success")
              val result = json.putObject("data").putArray("result")
              rows.foreach { r =>
                val ts = base + r.getAs[Number]("n_nationkey").longValue()
                if (ts >= start && ts <= end) {
                  val se = result.addObject()
                  se.putObject("metric").put("nation", r.getString(1))
                  val pair = se.putArray("values").addArray()
                  pair.add(ts)
                  pair.add(r.getAs[Number]("n_regionkey").toString)
                }
              }
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.Prometheus.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          // localCheckpoint: the fetch must not re-execute after the
          // loopback server stops
          graft.sources.Prometheus.read(s, conn,
            s"""nation_metric#{"start":"$base","end":"${base + 25}","step":"1s"}""",
            chunks = 4, nowEpoch = base + 25)
            .localCheckpoint(true)
            .select(col("nation"), col("ts"), col("value"))
            .orderBy("nation", "ts")
        } finally server.stop(0)
      },
      Some("""SELECT n_name AS nation, CAST(1700000000 + n_nationkey AS BIGINT) AS ts,
        CAST(n_regionkey AS DOUBLE) AS value FROM nation ORDER BY nation, ts""")),

    // Trino client protocol (database_trino.go / trino-go-client wire
    // surface): a loopback coordinator pages nation through nextUri; the
    // reader honors the protocol's reported column types
    Q("op_trino",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          val base = () => s"http://127.0.0.1:${server.getAddress.getPort}"
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val path = ex.getRequestURI.getPath
              val page = if (path == "/v1/statement") 0
                else path.split("/").last.toInt
              val json = mapper.createObjectNode()
              json.put("id", "q1")
              if (page >= 1) {
                val cols = json.putArray("columns")
                Seq(("n_nationkey", "bigint"), ("n_name", "varchar(25)"),
                  ("n_regionkey", "bigint")).foreach { case (n, t) =>
                  cols.addObject().put("name", n).put("type", t)
                }
                val data = json.putArray("data")
                val per = 7
                rows.slice((page - 1) * per, page * per).foreach { r =>
                  val a = data.addArray()
                  a.add(r.getAs[Number](0).longValue())
                  a.add(r.getString(1))
                  a.add(r.getAs[Number](2).longValue())
                }
              }
              val lastPage = 1 + (rows.size + 6) / 7
              if (page < lastPage)
                json.put("nextUri", s"${base()}/v1/statement/q1/${page + 1}")
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          graft.sources.Trino.read(s,
            graft.sources.Trino.Conn(base()), "SELECT * FROM nation")
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Cloudflare D1 HTTP API (database_d1.go /raw columnar shape): nation
    // through a loopback endpoint, dynamic (SQLite-style) typing
    Q("op_d1",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val json = mapper.createObjectNode()
              json.put("success", true)
              json.putArray("errors")
              val results = json.putArray("result").addObject()
                .putObject("results")
              val cols = results.putArray("columns")
              Seq("n_nationkey", "n_name", "n_regionkey").foreach(cols.add)
              val out = results.putArray("rows")
              rows.foreach { r =>
                val a = out.addArray()
                a.add(r.getAs[Number](0).longValue())
                a.add(r.getString(1))
                a.add(r.getAs[Number](2).longValue())
              }
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.D1.Conn("acct", "db", "tok",
            baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.D1.read(s, conn, "SELECT * FROM nation")
            .localCheckpoint(true)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // BigQuery REST surface (database_bigquery.go's API, called directly):
    // jobs.query + pageToken paging over a loopback endpoint serving
    // nation in the f/v cell shape
    Q("op_bigquery",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val query = Option(ex.getRequestURI.getQuery).getOrElse("")
              val page = if (query.contains("pageToken")) 1 else 0
              val json = mapper.createObjectNode()
              json.putObject("jobReference").put("jobId", "j1")
              json.put("jobComplete", true)
              val fields = json.putObject("schema").putArray("fields")
              Seq(("n_nationkey", "INTEGER"), ("n_name", "STRING"),
                ("n_regionkey", "INTEGER")).foreach { case (n, t) =>
                fields.addObject().put("name", n).put("type", t)
              }
              val data = json.putArray("rows")
              val per = 13
              rows.slice(page * per, (page + 1) * per).foreach { r =>
                val f = data.addObject().putArray("f")
                f.addObject().put("v", r.getAs[Number](0).toString)
                f.addObject().put("v", r.getString(1))
                f.addObject().put("v", r.getAs[Number](2).toString)
              }
              if ((page + 1) * per < rows.size) json.put("pageToken", "p2")
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.BigQueryApi.Conn("proj",
            baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.BigQueryApi.read(s, conn, "SELECT * FROM nation")
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Bigtable v2 REST surface (database_bigtable.go through the JSON
    // mapping of the same protos): a loopback instance serves nation as
    // CellChunk streams; the reader samples row keys, fans contiguous
    // ranges across partitions, and lands the reference's row shape
    // (default_* string cells + _bigtable_key). Chunk carry-over, split
    // cells, resetRow, filters, and mutateRows are covered in BigtableSpec.
    Q("op_bigtable",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        def b64(x: String): String = java.util.Base64.getEncoder
          .encodeToString(x.getBytes("UTF-8"))
        def unb64(x: String): String =
          new String(java.util.Base64.getDecoder.decode(x), "UTF-8")
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
          .map(r => (f"r${r.getAs[Number](0).longValue()}%03d",
            Seq("n_nationkey" -> r.getAs[Number](0).toString,
              "n_name" -> r.getString(1),
              "n_regionkey" -> r.getAs[Number](2).toString)))
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val path = ex.getRequestURI.getPath
              val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
              val resp: String =
                if (path.endsWith(":sampleRowKeys")) {
                  val arr = mapper.createArrayNode()
                  Seq("r008", "r016").foreach(k =>
                    arr.addObject().put("rowKey", b64(k)))
                  mapper.writeValueAsString(arr)
                } else {
                  val r = mapper.readTree(body).path("rows")
                    .path("rowRanges").get(0)
                  val lo = Option(r.path("startKeyClosed").asText(null))
                    .map(unb64).getOrElse("")
                  val hi = Option(r.path("endKeyOpen").asText(null))
                    .map(unb64).getOrElse("")
                  val out = mapper.createArrayNode()
                  val chunks = out.addObject().putArray("chunks")
                  rows.filter { case (k, _) =>
                    (lo.isEmpty || k >= lo) && (hi.isEmpty || k < hi)
                  }.foreach { case (k, cells) =>
                    cells.zipWithIndex.foreach { case ((q, v), i) =>
                      val c = chunks.addObject()
                      if (i == 0) {
                        c.put("rowKey", b64(k))
                        c.put("familyName", "default")
                      }
                      c.put("qualifier", b64(q))
                      c.put("value", b64(v))
                      if (i == cells.size - 1) c.put("commitRow", true)
                    }
                  }
                  mapper.writeValueAsString(out)
                }
              val bytes = resp.getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.Bigtable.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.Bigtable.read(s, conn,
            "projects/p/instances/i/tables/nation")
            .localCheckpoint(true)
            .select(col("default_n_nationkey").cast(LongType)
              .as("n_nationkey"),
              col("default_n_name").as("n_name"),
              col("default_n_regionkey").cast(LongType).as("n_regionkey"))
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Athena JSON-RPC lifecycle (database_athena.go's API): SigV4-signed
    // StartQueryExecution -> poll -> paged GetQueryResults over a loopback
    // endpoint; header row dropped, NextToken paging
    Q("op_athena",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
              val target = ex.getRequestHeaders.getFirst("x-amz-target")
                .split("\\.").last
              val resp: String = target match {
                case "StartQueryExecution" => """{"QueryExecutionId":"qe1"}"""
                case "GetQueryExecution" =>
                  """{"QueryExecution":{"Status":{"State":"SUCCEEDED"}}}"""
                case _ =>
                  val page2 = mapper.readTree(body)
                    .path("NextToken").asText("").nonEmpty
                  val json = mapper.createObjectNode()
                  val rs = json.putObject("ResultSet")
                  val ci = rs.putObject("ResultSetMetadata")
                    .putArray("ColumnInfo")
                  Seq(("n_nationkey", "bigint"), ("n_name", "varchar"),
                    ("n_regionkey", "bigint")).foreach { case (n, t) =>
                    ci.addObject().put("Name", n).put("Type", t)
                  }
                  val out = rs.putArray("Rows")
                  def addRow(vals: Seq[String]): Unit = {
                    val d = out.addObject().putArray("Data")
                    vals.foreach(v => d.addObject().put("VarCharValue", v))
                  }
                  val per = 13
                  if (!page2) {
                    addRow(Seq("n_nationkey", "n_name", "n_regionkey"))
                    rows.take(per).foreach(r => addRow(Seq(
                      r.getAs[Number](0).toString, r.getString(1),
                      r.getAs[Number](2).toString)))
                    if (rows.size > per) json.put("NextToken", "t2")
                  } else
                    rows.drop(per).foreach(r => addRow(Seq(
                      r.getAs[Number](0).toString, r.getString(1),
                      r.getAs[Number](2).toString)))
                  mapper.writeValueAsString(json)
              }
              val bytes = resp.getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.Athena.Conn("us-east-1", "AKIATEST",
            "secret123",
            baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}",
            pollMs = 10)
          graft.sources.Athena.read(s, conn, "SELECT * FROM nation")
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Snowflake SQL API v2 (the REST surface behind database_snowflake.go's
    // driver): statement submit + partitioned results over a loopback
    // endpoint; partition 0 rides the submit response, the rest fetch on
    // executors
    Q("op_snowflake_api",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val per = 13
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          def dataOf(slice: Seq[org.apache.spark.sql.Row]) = {
            val arr = mapper.createArrayNode()
            slice.foreach { r =>
              val a = arr.addArray()
              a.add(r.getAs[Number](0).toString)
              a.add(r.getString(1))
              a.add(r.getAs[Number](2).toString)
            }
            arr
          }
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val query = Option(ex.getRequestURI.getQuery).getOrElse("")
              val json = mapper.createObjectNode()
              if (query.startsWith("partition=")) {
                json.set[com.fasterxml.jackson.databind.JsonNode]("data",
                  dataOf(rows.drop(per)))
              } else {
                json.put("statementHandle", "h1")
                val meta = json.putObject("resultSetMetaData")
                val rt = meta.putArray("rowType")
                Seq("n_nationkey", "n_name", "n_regionkey")
                  .zip(Seq("FIXED", "TEXT", "FIXED")).foreach { case (n, t) =>
                    rt.addObject().put("name", n).put("type", t).put("scale", 0)
                  }
                val pi = meta.putArray("partitionInfo")
                pi.addObject().put("rowCount", per)
                if (rows.size > per) pi.addObject().put("rowCount", rows.size - per)
                json.set[com.fasterxml.jackson.databind.JsonNode]("data",
                  dataOf(rows.take(per)))
              }
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.SnowflakeApi.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          // localCheckpoint: partition fetches must not re-execute after
          // the loopback server stops
          graft.sources.SnowflakeApi.read(s, conn, "SELECT * FROM nation")
            .localCheckpoint(true)
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // ClickHouse HTTP interface (the public REST surface of the engine the
    // reference drives natively): SELECT .. FORMAT JSONEachRow over a
    // loopback server holding nation
    Q("op_clickhouse_http",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
          .map(r => s"""{"n_nationkey":${r.get(0)},"n_name":${
            mapper.writeValueAsString(mapper.getNodeFactory
              .textNode(r.getString(1)))},"n_regionkey":${r.get(2)}}""")
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val bytes = (lines.mkString("\n") + "\n").getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.ClickHouseHttp.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.ClickHouseHttp.read(s, conn, "SELECT * FROM nation")
            .localCheckpoint(true)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Databricks SQL Statement API (the REST surface behind the
    // databricks driver): submit + SUCCEEDED + chunked results over a
    // loopback endpoint; chunks 1..n-1 fetch on executors
    Q("op_databricks_sql",
      (s, dir) => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val rows = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect().toSeq
        val per = 13
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          def dataInto(json: com.fasterxml.jackson.databind.node.ObjectNode,
              slice: Seq[org.apache.spark.sql.Row], key: String) = {
            val tgt = if (key == "result") json.putObject("result") else json
            val data = tgt.putArray("data_array")
            slice.foreach { r =>
              val a = data.addArray()
              a.add(r.getAs[Number](0).toString)
              a.add(r.getString(1))
              a.add(r.getAs[Number](2).toString)
            }
          }
          server.createContext("/",
            (ex: com.sun.net.httpserver.HttpExchange) => {
              val path = ex.getRequestURI.getPath
              val json = mapper.createObjectNode()
              if (path.contains("/result/chunks/")) {
                dataInto(json, rows.drop(per), "chunk")
              } else {
                json.put("statement_id", "st1")
                json.putObject("status").put("state", "SUCCEEDED")
                val man = json.putObject("manifest")
                man.put("total_chunk_count", if (rows.size > per) 2 else 1)
                val cols = man.putObject("schema").putArray("columns")
                Seq(("n_nationkey", "LONG"), ("n_name", "STRING"),
                  ("n_regionkey", "LONG")).foreach { case (n, t) =>
                  cols.addObject().put("name", n).put("type_name", t)
                }
                dataInto(json, rows.take(per), "result")
              }
              val bytes = mapper.writeValueAsString(json).getBytes("UTF-8")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              try ex.getResponseBody.write(bytes) finally ex.close()
            })
          server.start()
          val conn = graft.sources.DatabricksSql.Conn(
            s"http://127.0.0.1:${server.getAddress.getPort}")
          graft.sources.DatabricksSql.read(s, conn, "SELECT * FROM nation",
            pollMs = 10)
            .localCheckpoint(true)
            .orderBy("n_nationkey")
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // jmespath-style record extraction, distributed: nested JSON built from
    // events, scalar path + [] flatten compiled to get_json_object /
    // from_json+explode (json.go:530 JqRun; spec.go:1331-1341)
    Q("op_json_jq",
      (s, dir) => {
        val e = Tables(s, dir, "events").select(col("event_id"),
          to_json(struct(
            struct(col("user_id").as("id"),
              array(col("event_id"), col("event_id") * 2, col("event_id") * 3)
                .as("vals")).as("user"))).as("js"))
        val flat = graft.transform.JsonPathX.flatten(
          e, col("js"), "user.vals[]", "v")
        flat.select(col("event_id"),
            graft.transform.JsonPathX.scalar(col("js"), "$.user.id")
              .cast(LongType).as("uid"),
            graft.transform.JsonPathX.scalar(col("js"), "user.vals[1]")
              .cast(LongType).as("second_val"),
            col("v").cast(LongType).as("val"))
          .orderBy("event_id", "val")
      },
      Some("""SELECT event_id, user_id AS uid, event_id * 2 AS second_val, v.val
        FROM events, LATERAL (VALUES (event_id), (event_id * 2), (event_id * 3)) v(val)
        ORDER BY event_id, val""")),

    // Non-UTF-8 source encodings (source_options.encoding, reference
    // encoding tests r.32-34): latin1 bytes written raw, decoded by the
    // distributed CSV read; expected strings pinned as a VALUES oracle
    Q("op_csv_encoding",
      (s, dir) => {
        val path = scratch("csv_latin1", dir) + "/accents.csv"
        val content = "id,name,role\n1,José,Café manager\n" +
          "2,François,Naïve résumé writer\n3,María,Piñata designer\n"
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
        out.write(content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        out.close()
        FileSources.csv(s, path, encoding = Some("ISO-8859-1"))
          .orderBy("id")
      },
      Some("""SELECT * FROM (VALUES
        (1, 'José', 'Café manager'),
        (2, 'François', 'Naïve résumé writer'),
        (3, 'María', 'Piñata designer')) t(id, name, role)
        ORDER BY id""")),

    // SAS7BDAT round-trip: native binary writer -> distributed page reader.
    // The SAS surface is numeric(double)/char(string) (reference maps SAS
    // numerics to float, sas7bdat.go:55-58), so keys cast to double on both
    // sides.
    Q("op_sas7bdat_roundtrip",
      (s, dir) => {
        val path = scratch("sas_rt", dir) + "/customer.sas7bdat"
        val c = Tables(s, dir, "customer").select(
          col("c_custkey").cast(DoubleType).as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast(DoubleType).as("c_acctbal"))
        graft.sources.SasIO.write(c, path)
        graft.sources.SasIO.read(s, path).orderBy("c_custkey")
      },
      Some("""SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name,
        c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer ORDER BY c_custkey""")),

    // Same path with SAS char compression (SASYZCRL): every row an RLE
    // subheader, decompressed page-locally on the executors
    Q("op_sas7bdat_rle",
      (s, dir) => {
        val path = scratch("sas_rle", dir) + "/supplier.sas7bdat"
        val sup = Tables(s, dir, "supplier").select(
          col("s_suppkey").cast(DoubleType).as("s_suppkey"),
          col("s_name"), col("s_nationkey").cast(DoubleType).as("s_nationkey"),
          col("s_acctbal").cast(DoubleType).as("s_acctbal"))
        graft.sources.SasIO.write(sup, path, compress = true)
        graft.sources.SasIO.read(s, path).orderBy("s_suppkey")
      },
      Some("""SELECT CAST(s_suppkey AS DOUBLE) AS s_suppkey, s_name,
        CAST(s_nationkey AS DOUBLE) AS s_nationkey,
        CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier ORDER BY s_suppkey""")),

    // RDC (SASYZCR2) compression: Ross Data Compression control words,
    // decompressed page-locally on the executors like the RLE path
    Q("op_sas7bdat_rdc",
      (s, dir) => {
        val path = scratch("sas_rdc", dir) + "/customer.sas7bdat"
        val cust = Tables(s, dir, "customer").select(
          col("c_custkey").cast(DoubleType).as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast(DoubleType).as("c_acctbal"))
        graft.sources.SasIO.write(cust, path, compress = true, codec = "rdc")
        graft.sources.SasIO.read(s, path).orderBy("c_custkey")
      },
      Some("""SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name,
        c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer ORDER BY c_custkey""")),

    // Big-endian layout (SPARC/AIX exports): endianness byte 0x00, every
    // multi-byte integer and double byte-reversed; same page-splittable
    // distributed read as the little-endian path
    Q("op_sas7bdat_bigendian",
      (s, dir) => {
        val path = scratch("sas_be", dir) + "/nation.sas7bdat"
        val nat = Tables(s, dir, "nation").select(
          col("n_nationkey").cast(DoubleType).as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast(DoubleType).as("n_regionkey"))
        graft.sources.SasIO.write(nat, path, u64 = true, be = true)
        graft.sources.SasIO.read(s, path).orderBy("n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS DOUBLE) AS n_nationkey, n_name,
        CAST(n_regionkey AS DOUBLE) AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // XLSX round-trip (zip+OOXML, no POI) through the inference engine
    Q("op_excel_roundtrip",
      (s, dir) => {
        val path = scratch("excel_rt", dir) + "/nation.xlsx"
        graft.sources.ExcelIO.write(Tables(s, dir, "nation"), path)
        graft.sources.ExcelIO.read(s, path).orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // Iceberg snapshot scan via metadata walk (no runtime jar): bootstrap
    // snapshot write → manifest-list → manifests → distributed parquet read
    Q("op_iceberg_scan",
      (s, dir) => {
        val t = scratch("iceberg_scan", dir)
        graft.sources.IcebergLite.writeSnapshot(Tables(s, dir, "supplier"), t)
        graft.sources.IcebergLite.read(s, t).orderBy("s_suppkey")
      },
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // Iceberg v2 row-level deletes: position deletes (file_path/pos vs the
    // scan's _metadata file position) + equality deletes (anti-join on the
    // delete file's columns), both applied distributedly on read
    Q("op_iceberg_v2_deletes",
      (s, dir) => {
        val t = scratch("iceberg_v2", dir)
        graft.sources.IcebergLite.writeSnapshot(Tables(s, dir, "orders"), t)
        val pos = s.read.parquet(t + "/data")
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("o_orderkey"))
          .filter(col("o_orderkey") % 7 === 0)
          .select("file_path", "pos")
        val eq = Tables(s, dir, "orders").select("o_orderstatus")
          .filter(col("o_orderstatus") === "P").distinct()
        graft.sources.IcebergLite.appendDeletes(t, Some(pos), Some(eq))
        graft.sources.IcebergLite.read(s, t).orderBy("o_orderkey")
      },
      Some("""SELECT * FROM orders
        WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P'
        ORDER BY o_orderkey""")),

    // Iceberg v2 sequence-number scoping: data appended AFTER a delete
    // file carries a higher data_sequence_number, so the older equality
    // delete must not touch it — without the sequence check those rows
    // would be wrongly deleted
    Q("op_iceberg_seq",
      (s, dir) => {
        val t = scratch("iceberg_seq", dir)
        val orders = Tables(s, dir, "orders")
        graft.sources.IcebergLite.writeSnapshot(
          orders.filter(col("o_orderkey") % 2 === 0), t)          // seq 1
        val eq = orders.select("o_orderstatus")
          .filter(col("o_orderstatus") === "P").distinct()
        graft.sources.IcebergLite.appendDeletes(t, None, Some(eq)) // seq 2
        graft.sources.IcebergLite.appendData(
          orders.filter(col("o_orderkey") % 2 =!= 0), t)          // seq 3
        graft.sources.IcebergLite.read(s, t).orderBy("o_orderkey")
      },
      Some("""SELECT * FROM orders
        WHERE o_orderkey % 2 <> 0 OR o_orderstatus <> 'P'
        ORDER BY o_orderkey""")),

    // Field-id schema resolution: the current schema renames two supplier
    // columns; data files keep the write-time names, so a name-based read
    // would miss them — the spec requires resolving by parquet field id
    Q("op_iceberg_schema_evolution",
      (s, dir) => {
        val t = scratch("iceberg_rename", dir)
        val sup = Tables(s, dir, "supplier")
        val ids = sup.columns.zipWithIndex.map { case (c, i) =>
          (i + 1, c match {
            case "s_name" => "supplier_name"
            case "s_acctbal" => "balance"
            case other => other
          })
        }
        graft.sources.IcebergLite.writeSnapshot(sup, t, Some(ids.toSeq))
        graft.sources.IcebergLite.read(s, t).orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name AS supplier_name, s_nationkey,
        s_acctbal AS balance FROM supplier ORDER BY s_suppkey""")),

    // Moved-table tolerance (reference hardcodes iceberg_scan's
    // allow_moved_paths=true): the fixture is built at one location with
    // position deletes, moved wholesale to another, and the original
    // removed — stored absolute paths (manifest list, manifests, data
    // files, position-delete contents) must all re-anchor to the new root
    Q("op_iceberg_moved",
      (s, dir) => {
        val orig = scratch("iceberg_moved_orig", dir)
        val moved = scratch("iceberg_moved", dir)
        graft.sources.IcebergLite.writeSnapshot(Tables(s, dir, "orders"), orig)
        val pos = s.read.parquet(orig + "/data")
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("o_orderkey"))
          .filter(col("o_orderkey") % 7 === 0)
          .select("file_path", "pos")
        graft.sources.IcebergLite.appendDeletes(orig, Some(pos), None)
        val conf = s.sparkContext.hadoopConfiguration
        val fsH = new org.apache.hadoop.fs.Path(orig).getFileSystem(conf)
        fsH.delete(new org.apache.hadoop.fs.Path(moved), true)
        org.apache.hadoop.fs.FileUtil.copy(
          fsH, new org.apache.hadoop.fs.Path(orig),
          fsH, new org.apache.hadoop.fs.Path(moved), true, conf)
        graft.sources.IcebergLite.read(s, moved).orderBy("o_orderkey")
      },
      Some("""SELECT * FROM orders WHERE o_orderkey % 7 <> 0
        ORDER BY o_orderkey""")),

    // Delta table via transaction-log replay (no connector jar): overwrite
    // then append commits, snapshot read = both commits' rows
    Q("op_delta_roundtrip",
      (s, dir) => {
        val t = scratch("delta_rt", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val c = Tables(s, dir, "customer")
        graft.sources.DeltaLite.overwrite(c.filter(col("c_custkey") % 2 === 0), t)
        graft.sources.DeltaLite.append(c.filter(col("c_custkey") % 2 =!= 0), t)
        graft.sources.DeltaLite.read(s, t).orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // Multi-part parquet checkpoint (the norm for large logs): adds split
    // across N part files advertised by _last_checkpoint's `parts`; the
    // json commits at/below the checkpoint are deleted so the replay must
    // reconstruct the snapshot from the parts alone
    Q("op_delta_checkpoint",
      (s, dir) => {
        val t = scratch("delta_cp", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val c = Tables(s, dir, "customer")
        graft.sources.DeltaLite.overwrite(c.filter(col("c_custkey") % 2 === 0), t)
        graft.sources.DeltaLite.append(c.filter(col("c_custkey") % 2 =!= 0), t)
        graft.sources.DeltaLite.writeCheckpoint(s, t, parts = 2)
        fs.delete(new org.apache.hadoop.fs.Path(
          t, "_delta_log/00000000000000000000.json"), false)
        fs.delete(new org.apache.hadoop.fs.Path(
          t, "_delta_log/00000000000000000001.json"), false)
        graft.sources.DeltaLite.read(s, t).orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // Delta deletion vectors: roaring-bitmap row-level deletes decoded
    // distributedly and anti-joined on file/position metadata
    Q("op_delta_dv",
      (s, dir) => {
        val t = scratch("delta_dv", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        graft.sources.DeltaLite.overwrite(Tables(s, dir, "customer"), t)
        val rel = regexp_replace(
          graft.sources.PathNorm.normUri(col("_metadata.file_path")),
          java.util.regex.Pattern.quote(t + "/"), "")
        val deletes = graft.sources.DeltaLite.read(s, t)
          .select(rel.as("path"), col("_metadata.row_index").as("pos"),
            col("c_custkey"))
          .filter(col("c_custkey") % 3 === 0)
          .select("path", "pos")
        graft.sources.DeltaLite.addDeletionVectors(t, deletes)
        graft.sources.DeltaLite.read(s, t).orderBy("c_custkey")
      },
      Some("SELECT * FROM customer WHERE c_custkey % 3 <> 0 ORDER BY c_custkey")),

    // Stats-based data skipping, Delta: per-file minValues/maxValues in the
    // add actions prune files against the predicate BEFORE the scan; the
    // predicate is re-applied to surviving rows so the result is exactly
    // read+filter. The assertion inside verifies files were actually
    // skipped (the range-partitioned write makes bounds disjoint).
    Q("op_delta_skipping",
      (s, dir) => {
        val t = scratch("delta_skip", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        graft.sources.DeltaLite.overwrite(
          Tables(s, dir, "orders").repartitionByRange(4, col("o_orderkey")),
          t, collectStats = true)
        val (kept, total) = graft.sources.DeltaLite.pruneCount(
          s, t, "o_orderkey <= 1000")
        require(kept < total, s"expected file skipping, kept $kept/$total")
        graft.sources.DeltaLite.readWhere(s, t, "o_orderkey <= 1000")
          .orderBy("o_orderkey")
      },
      Some("SELECT * FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey")),

    // Scale-safe metadata planning: a checkpoint with 50k add actions is
    // pruned ON THE EXECUTORS (snapshotPlan/collectEntries); only the two
    // real files' paths reach the driver — stats strings and the 49,998
    // synthetic entries never do. If pruning regressed, the scan would try
    // to open the nonexistent synthetic files and the query would error.
    Q("op_delta_many_files",
      (s, dir) => {
        import s.implicits._
        val t = scratch("delta_many_files", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val cust = Tables(s, dir, "customer").filter(col("c_custkey") <= 100)
        graft.sources.DeltaLite.overwrite(
          cust.filter(col("c_custkey") <= 50).coalesce(1), t, collectStats = true)
        graft.sources.DeltaLite.append(
          cust.filter(col("c_custkey") > 50).coalesce(1), t, collectStats = true)
        val real = graft.sources.DeltaLite.snapshot(s, t).entries
          .map(e => (e.path, e.stats.orNull))
        val fakes = (0 until 49998).map { i =>
          val lo = 1000000L + i.toLong * 100
          (f"data/synthetic-$i%05d.parquet",
            s"""{"numRecords":100,"minValues":{"c_custkey":$lo},""" +
              s""""maxValues":{"c_custkey":${lo + 99}},"nullCount":{"c_custkey":0}}""")
        }
        val cpDf = (real ++ fakes).toDF("path", "stats")
          .select(struct(col("path"), col("stats")).as("add"))
        val tmp = s"$t/_cp_build"
        cpDf.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(
          t, f"_delta_log/${1L}%020d.checkpoint.parquet"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        val out = fs.create(new org.apache.hadoop.fs.Path(
          t, "_delta_log/_last_checkpoint"), true)
        out.write("""{"version":1}""".getBytes); out.close()
        fs.delete(new org.apache.hadoop.fs.Path(
          t, f"_delta_log/${0L}%020d.json"), false)
        fs.delete(new org.apache.hadoop.fs.Path(
          t, f"_delta_log/${1L}%020d.json"), false)
        val (kept, total) = graft.sources.DeltaLite.pruneCount(
          s, t, "c_custkey <= 100")
        require(total >= 50000 && kept <= 2,
          s"expected metadata-level pruning of synthetic files, kept $kept/$total")
        graft.sources.DeltaLite.readWhere(s, t, "c_custkey <= 100")
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey")),

    // Scale-safe Iceberg snapshot planning (r8 twin of op_delta_many_files):
    // 50k synthetic manifest entries must be pruned during the (forced
    // distributed) manifest walk, and two summary-carrying manifest-list
    // refs must be pruned WITHOUT being opened — their manifest files do
    // not exist, so planning errors if either layer regresses.
    Q("op_iceberg_many_files",
      (s, dir) => {
        import graft.sources.IcebergLite
        val t = scratch("iceberg_many_files", dir)
        val cust = Tables(s, dir, "customer").filter(col("c_custkey") <= 100)
        IcebergLite.writeSnapshot(cust.coalesce(2), t, collectStats = true)
        val lt = org.apache.spark.sql.types.LongType
        def b(v: Long) = IcebergLite.boundBytes(v, lt)
        val fakes = (0 until 10).map { m =>
          IcebergLite.SyntheticManifest(Some((0 until 5000).map { i =>
            val lo = 1000000L + (m * 5000L + i) * 100
            (f"$t/data/synthetic-$m%02d-$i%04d.parquet",
              Some(IcebergLite.FileBounds(100L,
                Map(1 -> b(lo).get), Map(1 -> b(lo + 99).get), Map(1 -> 0L))))
          }))
        }
        val refOnly = (0 until 2).map { _ =>
          IcebergLite.SyntheticManifest(None, Some(IcebergLite.ManifestSummary(
            0, Seq((false, b(2000000L), b(3000000L))), 1000)))
        }
        IcebergLite.appendSyntheticManifests(s, t, fakes ++ refOnly,
          partitionSpecsJson = Some("""[{"spec-id":0,"fields":[{"name":
            "c_custkey","transform":"identity","source-id":1,
            "field-id":1000}]}]""".replaceAll("\n\\s*", "")))
        val prev = s.conf.getOption(IcebergLite.PlanThresholdKey)
        s.conf.set(IcebergLite.PlanThresholdKey, "1")
        try {
          val (kept, total) = IcebergLite.pruneCount(s, t, "c_custkey <= 100")
          require(total >= 52000 && kept <= 2,
            s"expected metadata-level pruning of synthetic files, kept $kept/$total")
          IcebergLite.readWhere(s, t, "c_custkey <= 100").orderBy("c_custkey")
        } finally prev match {
          case Some(v) => s.conf.set(IcebergLite.PlanThresholdKey, v)
          case None => s.conf.unset(IcebergLite.PlanThresholdKey)
        }
      },
      Some("SELECT * FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey")),

    // Stats-based data skipping, Iceberg: manifest lower_bounds/upper_bounds
    // (spec Appendix D single-value binary, keyed by field id) prune data
    // files before the scan
    Q("op_iceberg_skipping",
      (s, dir) => {
        val t = scratch("iceberg_skip", dir)
        graft.sources.IcebergLite.writeSnapshot(
          Tables(s, dir, "orders").repartitionByRange(4, col("o_orderkey")),
          t, collectStats = true)
        val (kept, total) = graft.sources.IcebergLite.pruneCount(
          s, t, "o_orderkey <= 1000")
        require(kept < total, s"expected file skipping, kept $kept/$total")
        graft.sources.IcebergLite.readWhere(s, t, "o_orderkey <= 1000")
          .orderBy("o_orderkey")
      },
      Some("SELECT * FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey")),

    // Delta column mapping, `name` mode: parquet files carry physical names
    // (col-1, col-2, …) that differ from every logical name; the reader
    // resolves them through the metaData schemaString's
    // delta.columnMapping.physicalName metadata and projects back to
    // logical names — the scan itself stays a pruned distributed read
    Q("op_delta_column_mapping",
      (s, dir) => {
        val t = scratch("delta_cm_name", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        graft.sources.DeltaLite.writeMapped(Tables(s, dir, "nation"), t, "name")
        graft.sources.DeltaLite.read(s, t).orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // Delta column mapping, `id` mode: resolution by parquet field id
    // (spark.sql.parquet.fieldId.read.enabled) instead of physical name
    Q("op_delta_column_mapping_id",
      (s, dir) => {
        val t = scratch("delta_cm_id", dir)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        graft.sources.DeltaLite.writeMapped(Tables(s, dir, "supplier"), t, "id")
        graft.sources.DeltaLite.read(s, t).orderBy("s_suppkey")
      },
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // Avro container files: per-partition distributed write, block-split
    // AvroKeyInputFormat read — no spark-avro connector involved
    Q("op_avro_roundtrip",
      (s, dir) => {
        val path = scratch("avro_rt", dir)
        graft.sources.AvroIO.write(Tables(s, dir, "orders"), path)
        graft.sources.AvroIO.read(s, path).orderBy("o_orderkey")
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // Arrow IPC files: 4096-row record batches, one task per file on read
    Q("op_arrow_roundtrip",
      (s, dir) => {
        val path = scratch("arrow_rt", dir)
        graft.sources.ArrowIO.write(Tables(s, dir, "orders"), path)
        graft.sources.ArrowIO.read(s, path).orderBy("o_orderkey")
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // Spark 4 native XML source round-trip through the inference engine
    Q("op_xml_roundtrip",
      (s, dir) => {
        val path = scratch("xml_rt", dir)
        Tables(s, dir, "customer").write.mode("overwrite")
          .format("xml").option("rootTag", "rows").option("rowTag", "row")
          .save(path)
        val raw = s.read.format("xml").option("rowTag", "row")
          .option("inferSchema", "false").load(path)
        graft.model.TypeInference.castTo(
          raw.select(raw.columns.sorted.map(col).toSeq: _*),
          graft.model.TypeInference.infer(
            raw.limit(900).collect().toSeq, raw.columns.sorted.toSeq,
            Map("c_custkey" -> LongType, "c_acctbal" -> DoubleType)))
          .orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // post-load row-count + per-column checksum validation
    Q("op_checksum_validate",
      (s, dir) => {
        val path = scratch("checksum", dir)
        val src = Tables(s, dir, "orders")
        src.write.mode("overwrite").parquet(path)
        Validation.compare(src, s.read.parquet(path)).orderBy("metric")
      },
      Some("""WITH c AS (SELECT
          CAST(COUNT(*) AS DOUBLE) AS row_count,
          CAST(SUM(CAST(o_orderkey AS DECIMAL(38,0))) AS DOUBLE) AS o_orderkey,
          CAST(SUM(CAST(o_custkey AS DECIMAL(38,0))) AS DOUBLE) AS o_custkey,
          CAST(SUM(length(o_orderstatus)) AS DOUBLE) AS o_orderstatus,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS o_totalprice,
          CAST(SUM(CAST(epoch_us(o_orderdate) AS DECIMAL(38,0))) AS DOUBLE) AS o_orderdate,
          CAST(SUM(length(o_orderpriority)) AS DOUBLE) AS o_orderpriority
        FROM orders)
        SELECT t.metric, t.v AS source_checksum, t.v AS target_checksum,
          true AS is_match
        FROM c, LATERAL (VALUES
          ('row_count', c.row_count), ('o_orderkey', c.o_orderkey),
          ('o_custkey', c.o_custkey), ('o_orderstatus', c.o_orderstatus),
          ('o_totalprice', c.o_totalprice), ('o_orderdate', c.o_orderdate),
          ('o_orderpriority', c.o_orderpriority)) t(metric, v)
        ORDER BY metric""")),

    // skew-resistant two-phase aggregation == plain group-by result
    Q("op_salted_agg",
      (s, dir) => SaltedAgg.sumCount(Tables(s, dir, "events"),
          Seq("event_type"),
          col("value").cast("decimal(18,2)"), saltFactor = 8)
        .select(col("event_type"), col("total").cast("double"), col("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type""")),

    // replication YAML: defaults inheritance + wildcard expansion + parallel
    // streams; result = per-stream loaded row counts
    Q("op_replication",
      (s, dir) => {
        val yaml =
          """defaults:
            |  mode: full-refresh
            |streams:
            |  region:
            |  nation:
            |  "s*":
            |  orders:
            |    mode: incremental
            |    update_key: o_orderdate
            |""".stripMargin
        val compiled = Replication.parse(yaml, Tables.names)
        val out = Replication.run(s, dir, compiled,
          scratch("replication", dir), threads = 4)
        import s.implicits._
        out.toDF("stream", "mode", "rows_loaded").orderBy("stream")
      },
      Some("""SELECT * FROM (
        SELECT 'region' AS stream, 'full-refresh' AS mode, COUNT(*) AS rows_loaded FROM region
        UNION ALL SELECT 'nation', 'full-refresh', COUNT(*) FROM nation
        UNION ALL SELECT 'supplier', 'full-refresh', COUNT(*) FROM supplier
        UNION ALL SELECT 'orders', 'incremental', COUNT(*) FROM orders)
        ORDER BY stream""")),

    // replication depends_on DAG + runtime-state templating
    // (replication.go:2101-2175, task_state.go:27-140): lineitem waits for
    // orders, its where-clause renders `{state.orders.rows}` published by
    // the completed upstream, and a transform renders `{stream_table}`
    Q("op_replication_dag",
      (s, dir) => {
        val root = scratch("replication_dag", dir)
        val yaml =
          """defaults:
            |  mode: full-refresh
            |streams:
            |  orders:
            |  lineitem:
            |    depends_on: [orders]
            |    select: [l_orderkey, l_linenumber, l_quantity]
            |    where: "l_orderkey < {state.orders.rows}"
            |    transforms:
            |      src: "'{stream_table}'"
            |""".stripMargin
        val compiled = Replication.parse(yaml, Tables.names)
        Replication.run(s, dir, compiled, root, threads = 4)
        s.read.parquet(s"$root/lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("src"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "src")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, 'lineitem' AS src
        FROM lineitem WHERE l_orderkey < (SELECT COUNT(*) FROM orders)
        ORDER BY l_orderkey, l_linenumber, l_quantity, src""")),

    // full per-column profile in one aggregate pass (AnalyzeColumns port)
    Q("op_column_stats",
      (s, dir) => graft.operators.Profile.columnStats(Tables(s, dir, "orders"))
        .orderBy("column"),
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map { c =>
          s"""SELECT '$c' AS "column", COUNT(*) AS total_cnt,
             COUNT(*) - COUNT($c) AS null_cnt,
             COUNT(DISTINCT $c) AS uniq_cnt,
             CAST(MIN($c) AS VARCHAR) AS min_val,
             CAST(MAX($c) AS VARCHAR) AS max_val FROM orders"""
        }.mkString("SELECT * FROM (", " UNION ALL ", """) ORDER BY "column"""")
      }),

    // bucketed co-located join: both sides bucketed+sorted on the join key
    // at write time → the join needs NO shuffle of the fact table (the 100 TB
    // pattern for repeated joins on the same key); plan asserted in tests
    Q("op_bucketed_join",
      (s, dir) => {
        val sfx = Scratch.tag(dir)
        val (ot, lt) = (s"b_orders_$sfx", s"b_lineitem_$sfx")
        // a fresh session's in-memory catalog doesn't know about table dirs
        // left by a previous run — drop and clear the location first
        Seq(ot, lt).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + "/" + t)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(loc, true)
        }
        Tables(s, dir, "orders").write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        Tables(s, dir, "lineitem").write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(5,2)")))
            .cast("double").as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
          (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Chunked file-partition backfill (partition.go:600-648
    // GeneratePartURIsFromRange): a {part_*} mask stream expands the
    // backfill range into explicit chunk URIs — only those directories are
    // read, no full-tree listing — and the target's range rows are
    // replaced. At scale this touches 12 directories of a
    // years-partitioned tree, not all of them.
    Q("op_replication_chunked_files",
      (s, dir) => {
        val root = scratch("repl_chunked", dir)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val orders = Tables(s, dir, "orders")
        val src = s"$root/src"
        graft.write.PartitionedWriter.write(orders, src, "o_orderdate",
          Seq("part_year", "part_month"))
        val mask = s"$src/part_year={part_year}/part_month={part_month}"
        val yaml =
          s"""streams:
             |  "$mask":
             |    mode: backfill
             |    update_key: o_orderdate
             |    select: [${orders.columns.mkString(", ")}]
             |    backfill:
             |      start: "1995-01-01"
             |      end: "1995-12-31"
             |""".stripMargin
        val compiled = Replication.parse(yaml, Tables.names)
        val out = Replication.run(s, dir, compiled, s"$root/tgt", threads = 2)
        require(out.nonEmpty && out.head._2 == "backfill", out.toString)
        val safe = mask.replaceAll("[^A-Za-z0-9._-]+", "_")
        s.read.parquet(s"$root/tgt/$safe")
          .select(orders.columns.map(col).toSeq: _*)
          .orderBy("o_orderkey")
      },
      Some("""SELECT * FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate <= DATE '1995-12-31'
        ORDER BY o_orderkey""")),

    // stream discovery: wildcard catalog listing with 1-based column
    // positions (type names differ by engine, so the oracle checks
    // stream/position/name)
    Q("op_discover",
      (s, dir) => graft.sources.Discover.columns(s, dir, Seq("n*", "r*"))
        .select("stream", "position", "column_name")
        .orderBy("stream", "position"),
      Some("""SELECT table_name AS stream,
        CAST(ordinal_position AS BIGINT) AS position, column_name
        FROM information_schema.columns
        WHERE table_name LIKE 'n%' OR table_name LIKE 'r%'
        ORDER BY stream, position""")),

    // relation discovery: classify FK→key pairs from uniqueness + overlap
    Q("op_relation_discovery",
      (s, dir) => {
        import s.implicits._
        def rel(pair: String, ta: String, ca: String, tb: String, cb: String) = {
          val (k, m) = graft.operators.Profile.relation(
            Tables(s, dir, ta), ca, Tables(s, dir, tb), cb)
          (pair, k, m)
        }
        Seq(
          rel("customer.c_custkey->orders.o_custkey",
            "customer", "c_custkey", "orders", "o_custkey"),
          rel("lineitem.l_orderkey->orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"),
          rel("orders.o_custkey->customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"),
          rel("region.r_regionkey->nation.n_regionkey",
            "region", "r_regionkey", "nation", "n_regionkey"))
          .toDF("pair", "relation", "match_ratio")
          .orderBy("pair")
      },
      Some {
        def relSql(pair: String, ta: String, ca: String, tb: String, cb: String) =
          s"""SELECT '$pair' AS pair,
             |  CASE WHEN au AND bu THEN 'one_to_one'
             |       WHEN au THEN 'one_to_many'
             |       WHEN bu THEN 'many_to_one'
             |       ELSE 'many_to_many' END AS relation,
             |  mr AS match_ratio
             |FROM (SELECT
             |  (SELECT COUNT($ca) = COUNT(DISTINCT $ca) FROM $ta
             |     WHERE $ca IS NOT NULL) AS au,
             |  (SELECT COUNT($cb) = COUNT(DISTINCT $cb) FROM $tb
             |     WHERE $cb IS NOT NULL) AS bu,
             |  (SELECT CAST(COUNT(DISTINCT a.$ca) AS DOUBLE) /
             |       (SELECT COUNT(DISTINCT $ca) FROM $ta)
             |     FROM $ta a JOIN $tb b ON a.$ca = b.$cb) AS mr)""".stripMargin
        Seq(
          relSql("customer.c_custkey->orders.o_custkey",
            "customer", "c_custkey", "orders", "o_custkey"),
          relSql("lineitem.l_orderkey->orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"),
          relSql("orders.o_custkey->customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"),
          relSql("region.r_regionkey->nation.n_regionkey",
            "region", "r_regionkey", "nation", "n_regionkey"))
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY pair")
      }),

    // geometry: WKB build → parse → GeoJSON render (reference geometry
    // column conversion); coords picked to stay in exact binary fractions
    Q("op_geojson",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .withColumn("lon", col("c_custkey") % 360 - lit(179.5))
          .withColumn("lat", col("c_custkey") % 170 - lit(84.5))
        c.select(col("c_custkey"),
          graft.functions.Geo.geomToGeoJson(
            graft.functions.Geo.mkPointWkb(col("lon"), col("lat"))).as("geojson"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, concat('{"type":"Point","coordinates":[',
        CAST(c_custkey % 360 - 179.5 AS VARCHAR), ',',
        CAST(c_custkey % 170 - 84.5 AS VARCHAR), ']}') AS geojson
        FROM customer ORDER BY c_custkey""")),

    // PG COPY text-format encoder (bulk-load fast path,
    // database_postgres.go:380-480): the same escaping rendered
    // independently by DuckDB's replace/chr chain must hash-match.
    // Payload injects every character COPY escapes (tab, newline, CR,
    // backslash) and a NULL every 5th row for the \N path.
    Q("op_pg_copy_encode",
      (s, dir) => {
        val n = Tables(s, dir, "nation")
        val payload = when(col("n_nationkey") % 5 === 0, lit(null))
          .otherwise(concat(col("n_name"), lit("\t"), col("n_name"),
            lit("\n\r\\x")))
        graft.write.PgCopy.encodedLines(
          n.select(col("n_nationkey").as("id"), payload.as("payload"),
            (col("n_nationkey") % 2 === 0).as("flag")))
          .orderBy("line")
      },
      Some("""SELECT
        |  CAST(n_nationkey AS VARCHAR) || chr(9) ||
        |  COALESCE(
        |    replace(replace(replace(replace(
        |      CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |           ELSE n_name || chr(9) || n_name ||
        |                chr(10) || chr(13) || chr(92) || 'x' END,
        |      chr(92), chr(92) || chr(92)),
        |      chr(9), chr(92) || 't'),
        |      chr(10), chr(92) || 'n'),
        |      chr(13), chr(92) || 'r'),
        |    chr(92) || 'N') || chr(9) ||
        |  CASE WHEN n_nationkey % 2 = 0 THEN 't' ELSE 'f' END AS line
        |FROM nation ORDER BY line""".stripMargin)),

    // SQL Server BCP sentinel encoder (bulk-load fast path,
    // database_sqlserver.go:708-790): codegen column chain vs DuckDB
    // rendering the same sentinel substitution. Payload injects the
    // delimiter, quote, CR, LF, and an empty string every 5th row (bcp
    // reads empty as NULL, so empty gets its own sentinel).
    Q("op_bcp_encode",
      (s, dir) => {
        val n = Tables(s, dir, "nation")
        val payload = when(col("n_nationkey") % 5 === 0, lit(""))
          .otherwise(concat(col("n_name"), lit(",\""), col("n_name"),
            lit("\r\n")))
        n.select(col("n_nationkey").as("id"),
            graft.write.BulkStage.bcpEncodeCol(payload).as("encoded"))
          .orderBy("id")
      },
      Some("""SELECT n_nationkey AS id,
        |  CASE WHEN n_nationkey % 5 = 0 THEN '$~e$~'
        |       ELSE replace(replace(replace(replace(
        |         n_name || ',"' || n_name || chr(13) || chr(10),
        |         ',', '$~d$~'), '"', '$~q$~'),
        |         chr(13), '$~r$~'), chr(10), '$~n$~') END AS encoded
        |FROM nation ORDER BY id""".stripMargin)),

    // approximate distinct (HLL): the sketch value itself is
    // engine-specific, so the oracle checks the exact count plus the HLL
    // error bound — a drifting sketch fails the hash compare via the flag
    Q("q15_approx_distinct",
      (s, dir) => Tables(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("within_5pct")),
      Some("""SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        true AS within_5pct FROM lineitem"""))
  )
}
