package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Server
import graft.result.Json
import SparkTestSession.{jobsDuring, spark}

/** End-to-end HTTP tests against the live server (the analog of the
  * reference's Rack::Test api_spec). */
class ApiSpec extends AnyFunSuite {

  private lazy val server: Server = {
    val s = new Server(spark, SparkTestSession.sf, 0, // ephemeral port
      flushSecret = Some("s3cret"))
    s.start()
    s
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String,
      contentType: String = "text/plain"): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("GET /cubes lists the schema") {
    val (code, body) = get("/cubes")
    assert(code == 200)
    val doc = Json.parse(body).asInstanceOf[Map[String, Any]]
    val names = doc("cubes").asInstanceOf[Seq[Map[String, Any]]].map(_("name"))
    assert(names.toSet == Set("sales", "orders", "events", "commerce"))
  }

  test("GET aggregate returns axes/cell_keys/values with dense default") {
    val (code, body) = get("/cubes/sales/aggregate?drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue")
    assert(code == 200)
    val doc = Json.parse(body).asInstanceOf[Map[String, Any]]
    assert(doc("values").asInstanceOf[Seq[Any]].length == 5)
    assert(doc("axes").asInstanceOf[Seq[Any]].length == 2)
  }

  test("path segments are percent-decoded exactly once; '+' stays literal") {
    // 'Brand#13' arrives singly-encoded: one decode resolves it
    val (c1, _) = get("/cubes/sales/dimensions/Part/levels/Brand/members/Brand%2313")
    assert(c1 == 200)
    // a literal '+' in a path segment is NOT a space (query-string rules
    // don't apply), and the once-decoded key is echoed intact
    val (c2, body2) = get("/cubes/sales/dimensions/Part/levels/Brand/members/Brand%2B13")
    assert(c2 == 404)
    assert(body2.contains("Brand+13"), body2)
  }

  test("GET /flush drops caches and queries keep answering (ref api.rb:52)") {
    val q = "/cubes/sales/aggregate?drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue"
    val (_, before) = get(q)
    val (code, body) = get("/flush?secret=s3cret")
    assert(code == 200 && body.contains("flushed"))
    val (c2, after) = get(q)
    assert(c2 == 200)
    assert(after == before) // rebuilt catalog answers identically
  }

  test("/flush is secret-gated: missing/wrong secret 403s (ref api.rb:54-64)") {
    val (c1, b1) = get("/flush")
    assert(c1 == 403 && b1.contains("secret"), b1)
    val (c2, _) = get("/flush?secret=wrong")
    assert(c2 == 403)
    // an unconfigured deployment refuses outright, like the reference's
    // "Please set MONDRIAN_REST_SECRET" guard
    val bare = new Server(spark, SparkTestSession.sf, 0, flushSecret = None)
    bare.start()
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:${bare.boundPort}/flush?secret=anything")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 403 && r.body().contains("GRAFT_SECRET"))
    } finally bare.stop()
  }

  test("/flush accepts the secret via Authorization: Bearer (log-safe path)") {
    val ok = client.send(HttpRequest.newBuilder(URI.create(base + "/flush"))
      .header("Authorization", "Bearer s3cret").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ok.statusCode() == 200 && ok.body().contains("flushed"), ok.body())
    val bad = client.send(HttpRequest.newBuilder(URI.create(base + "/flush"))
      .header("Authorization", "Bearer wrong").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(bad.statusCode() == 403)
  }

  test("POST /forget (secret-gated) rewrites every standing artifact: the " +
      "forgotten doc appears in no dedup pairs or clusters, no kNN " +
      "results, and no media delta pairs afterward") {
    import SparkTestSession.spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, IndexCache, Multimodal, Similarity}
    val docs = SparkTestSession.catalog.table("documents")
    val emb = SparkTestSession.catalog.table("embeddings")
    try {
      // plant an exact dup of doc 7 so the pair artifacts involve the victim
      val d7 = docs.where(col("doc_id") === 7L).select("lang", "text").head()
      val corpus = docs.select("doc_id", "lang", "text").unionByName(
        Seq((900001L, d7.getString(0), d7.getString(1)))
          .toDF("doc_id", "lang", "text"))
      val pairs0 = IndexCache.memo(spark, "lshpairs:forget") {
        Dedup.minhashLshPairs(corpus, 3, 32, 4, 0.5).localCheckpoint()
      }
      IndexCache.memo(spark, "lshclusters:forget") {
        Dedup.duplicateClusters(corpus.select("doc_id"), "doc_id",
          pairs0.select("doc_a", "doc_b")).localCheckpoint()
      }
      IndexCache.memo(spark, "lshindex:forget") {
        Dedup.lshIndex(corpus, 3, 32, 4)
      }
      def clip(id: Long, src: Long) = Multimodal.MediaRow(id,
        Multimodal.syntheticY4m(src, 64, 0),
        Multimodal.MediaMeta("y4m", 0, 0, 0))
      // media corpus: victim 7 and survivor 9 share content
      IndexCache.memo(spark, "mediafp:forget") {
        Multimodal.mediaFpIndex(Multimodal.videoFingerprint(
          Seq(clip(7, 1), clip(8, 2), clip(9, 1)).toDS().toDF()), 2)
      }
      IndexCache.memo(spark, "pqidx:forget") { Similarity.pqIndex(emb) }
      IndexCache.memo(spark, "ivf:forget") { Similarity.ivfIndex(emb, 8) }
      // a DURABLE layout saved during the session: the same POST /forget
      // must tombstone it so a later load cannot resurrect the victim
      val pdir = java.nio.file.Files
        .createTempDirectory("api-forget").toString
      Similarity.savePqIndex(Similarity.pqIndex(emb), s"$pdir/pq")
      // before: the victim is served
      assert(pairs0.where(col("doc_a") === 7L || col("doc_b") === 7L)
        .count() > 0)
      // destructive route is POST-only (a logged/prefetched GET URL with
      // its ?secret= must not rewrite state — 405 even with the secret),
      // gated like /flush, and empty ids are a 400
      val (c405, b405) = get("/forget?secret=s3cret&doc_ids=7")
      assert(c405 == 405 && b405.contains("POST"), b405)
      val (c403, _) = post("/forget?doc_ids=7", "")
      assert(c403 == 403)
      val (c400, b400) = post("/forget?secret=s3cret", "")
      assert(c400 == 400 && b400.contains("doc_ids"), b400)
      val (code, body) = post("/forget?secret=s3cret&doc_ids=7", "")
      assert(code == 200 && body.contains("forgotten"), body)
      assert(body.contains("artifacts_rewritten"), body)
      def peek[T](key: String): T =
        IndexCache.peek(spark, key).get.asInstanceOf[T]
      // dedup pairs: no side of any pair is the victim
      val pairs1 = peek[DataFrame]("lshpairs:forget")
      assert(pairs1.where(col("doc_a") === 7L || col("doc_b") === 7L)
        .isEmpty)
      // clusters: no member row, no label — the planted dup was
      // re-clustered through the sibling pair list (tombstoneDelete), so
      // it now leads its own cluster instead of wearing the victim's id
      val cl1 = peek[DataFrame]("lshclusters:forget")
      assert(cl1.where(col("doc_id") === 7L).isEmpty)
      assert(cl1.where(col("cluster_id") === 7L).isEmpty)
      assert(cl1.where(col("doc_id") === 900001L).head().getLong(1) != 7L)
      // LSH delta index: the victim's text re-presented under a fresh id
      // pairs with the surviving dup, never with the forgotten id
      val lsh1 = peek[Dedup.LshIndex]("lshindex:forget")
      val (dp, _) = Dedup.lshDeltaPairs(lsh1,
        Seq((900002L, d7.getString(1))).toDF("doc_id", "text"), 3, 32, 4, 0.5)
      assert(dp.where(col("doc_a") === 7L || col("doc_b") === 7L).isEmpty)
      assert(dp.where(col("doc_a") === 900001L &&
        col("doc_b") === 900002L).count() == 1)
      // media: postings gone; a re-upload of the victim's content pairs
      // only with the surviving duplicate asset
      val mfp1 = peek[Multimodal.MediaFpIndex]("mediafp:forget")
      assert(mfp1.keyed.where(col("doc_id") === 7L).isEmpty)
      val (mp, _) = Multimodal.mediaDeltaPairs(mfp1,
        Multimodal.videoFingerprint(Seq(clip(21, 1)).toDS().toDF()))
      assert(mp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((9L, 21L)))
      // ANN: the victim's vector serves from nowhere, and the served
      // result is exactly brute force over the survivors
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val truth = rows(Similarity.knnBrute(
        emb.where(col("vec_id") =!= 7L), Seq(0L, 1L, 2L), 5))
      assert(truth.forall(_._3 != 7L))
      assert(rows(Similarity.pqKnnBoundWith(
        peek[Similarity.PqIndex]("pqidx:forget"), Seq(0L, 1L, 2L), 5))
        .sameElements(truth))
      // the fixed-shortlist PQ search (s12) serves from the same index
      assert(rows(Similarity.pqKnnWith(
        peek[Similarity.PqIndex]("pqidx:forget"), Seq(0L, 1L, 2L), 5))
        .forall(_._3 != 7L))
      assert(rows(Similarity.knnIvfProbe(
        peek[Similarity.IvfIndex]("ivf:forget"), Seq(0L, 1L, 2L), 5, 3))
        .sameElements(truth))
      // durable reach: the SAVED layout was tombstoned by the same POST
      // (session registry → Forget.forgetPersisted), so a fresh load —
      // the restart path — serves exactly the survivors
      assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, s"$pdir/pq"), Seq(0L, 1L, 2L), 5))
        .sameElements(truth))
    } finally {
      // forget rewrote every doc/vec-keyed artifact in the SHARED session
      // cache (that is its contract) — drop the cache so later suites
      // rebuild from the full corpus instead of inheriting the tombstone
      IndexCache.invalidate(spark)
    }
  }

  test("aggregate.xls serves a binary OLE2/BIFF8 workbook") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base +
      "/cubes/sales/aggregate.xls?drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue"))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/vnd.ms-excel"))
    val bytes = r.body()
    // OLE2 compound-file magic — a strict .xls parser's first check
    assert(java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .getLong(0) == 0xE11AB1A1E011CFD0L)
    // BIFF8 worksheet content: 5 region labels + 1 header row of LABELs
    // (deep structural validation lives in BiffSpec)
    val asLatin = new String(bytes, java.nio.charset.StandardCharsets.UTF_16LE)
    assert(asLatin.contains("Workbook"))
  }

  test("Ytd running measure serves over the aggregate route") {
    val (code, body) = get("/cubes/sales/aggregate.jsonrecords?" +
      "drilldown%5B%5D=ShipDate.Monthly.Year&drilldown%5B%5D=ShipDate.Monthly.Month&" +
      "measures%5B%5D=revenue&measures%5B%5D=ytd_revenue&nonempty=true")
    assert(code == 200)
    val recs = Json.parse(body).asInstanceOf[Seq[Map[String, Any]]]
    assert(recs.nonEmpty)
    val rk = recs.head.keys.find(_.equalsIgnoreCase("revenue")).get
    val yk = recs.head.keys.find(_.equalsIgnoreCase("ytd_revenue")).get
    // first month of each year: ytd == revenue
    recs.groupBy(_("Year")).values.foreach { ms =>
      val first = ms.minBy(_("Month").asInstanceOf[Long])
      assert(math.abs(first(yk).asInstanceOf[Double] -
        first(rk).asInstanceOf[Double]) < 1e-6)
    }
  }

  test("POST aggregate (form body) equals GET (reference parity)") {
    val qs = "drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue&measures%5B%5D=cnt"
    val (_, viaGet) = get(s"/cubes/sales/aggregate?$qs")
    val (code, viaPost) = post("/cubes/sales/aggregate", qs,
      "application/x-www-form-urlencoded")
    assert(code == 200)
    assert(viaGet == viaPost)
  }

  test("POST /mdx matches the equivalent REST aggregate") {
    val (_, viaRest) = get(
      "/cubes/sales/aggregate?drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue&nonempty=true")
    val (code, viaMdx) = post("/mdx",
      """SELECT {[Measures].[Revenue]} ON COLUMNS,
        |NON EMPTY [Geography].[Region].Members ON ROWS
        |FROM [sales]""".stripMargin)
    assert(code == 200)
    assert(Json.parse(viaMdx).asInstanceOf[Map[String, Any]]("values") ==
      Json.parse(viaRest).asInstanceOf[Map[String, Any]]("values"))
  }

  test("CSV and jsonrecords formats stream tidy output") {
    val (_, csv) = get(
      "/cubes/sales/aggregate.csv?drilldown%5B%5D=ReturnFlag&measures%5B%5D=sum_qty")
    assert(csv.startsWith("ID ReturnFlag,ReturnFlag,Quantity"))
    assert(csv.trim.split("\r\n").length == 4) // header + 3 flags
    val (_, jr) = get(
      "/cubes/sales/aggregate.jsonrecords?drilldown%5B%5D=ReturnFlag&measures%5B%5D=sum_qty&format=array")
    val doc = Json.parse(jr).asInstanceOf[Map[String, Any]]
    assert(doc("variables") == Seq("ID ReturnFlag", "ReturnFlag", "Quantity"))
  }

  test("error contract over HTTP: 400 planner errors, 404 unknown routes") {
    assert(get("/cubes/sales/aggregate?drilldown%5B%5D=Nope&measures%5B%5D=revenue")._1 == 400)
    assert(get("/cubes/nope")._1 == 404)
    assert(get("/no/such/route")._1 == 404)
    assert(post("/mdx", "garbage")._1 == 400)
  }

  test("member lookup by full_name with num_children (C2/§2.D)") {
    val (code, body) = get(
      "/cubes/sales/members?full_name=%5BGeography%5D.%5BRegion%5D.%5B3%5D")
    assert(code == 200)
    val m = Json.parse(body).asInstanceOf[Map[String, Any]]
    assert(m("caption") == "EUROPE" && m("level_name") == "Region")
    assert(m("num_children").asInstanceOf[Long] > 0L) // nations under EUROPE
    assert(get("/cubes/sales/members")._1 == 400)
    assert(get("/cubes/sales/members?full_name=%5BGeography%5D.%5BRegion%5D.%5B99%5D")._1 == 404)
  }

  test("member children listing (C2)") {
    val (code, body) = get(
      "/cubes/sales/dimensions/Geography/levels/Region/members/3?children=true")
    assert(code == 200)
    val m = Json.parse(body).asInstanceOf[Map[String, Any]]
    val kids = m("children").asInstanceOf[Seq[Map[String, Any]]]
    assert(kids.nonEmpty && kids.forall(_("level_name") == "Nation"))
  }

  test("hierarchy-qualified level-members route (ref api.rb:174-205)") {
    // levels living only in a non-default hierarchy are reachable ONLY via
    // the hierarchies/:h segment — this was round 2's one parity hole
    val (code, body) = get(
      "/cubes/sales/dimensions/ShipDate/hierarchies/Weekly/levels/Week/members")
    assert(code == 200)
    val weeks = Json.parse(body).asInstanceOf[Map[String, Any]]("members")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("key").asInstanceOf[Long])
    assert(weeks.nonEmpty && weeks.forall(w => w >= 1 && w <= 53))
    // the unqualified form resolves the DEFAULT hierarchy, so Week is a 400
    assert(get("/cubes/sales/dimensions/ShipDate/levels/Week/members")._1 == 400)
    // member-by-key variant, with the ancestor chain from the same hierarchy
    val (c2, m) = get(
      "/cubes/sales/dimensions/ShipDate/hierarchies/Weekly/levels/Week/members/9")
    assert(c2 == 200)
    val member = Json.parse(m).asInstanceOf[Map[String, Any]]
    assert(member("level_name") == "Week" && member("key") == 9L)
    assert(member("ancestors").asInstanceOf[Seq[Map[String, Any]]]
      .head("level_name") == "Year")
    // a second cube-private hierarchy (Part.Types) works the same way
    val (c3, types) = get(
      "/cubes/sales/dimensions/Part/hierarchies/Types/levels/Type/members")
    assert(c3 == 200)
    assert(Json.parse(types).asInstanceOf[Map[String, Any]]("members")
      .asInstanceOf[Seq[Map[String, Any]]].nonEmpty)
  }

  test("member-by-key answers in ONE Spark job once the detail frame is warm") {
    val path = "/cubes/sales/dimensions/Geography/levels/Nation/members/3"
    assert(get(path)._1 == 200) // warm: builds + persists the detail frame
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (code, body) = get(path)
      assert(code == 200)
      assert(Json.parse(body).asInstanceOf[Map[String, Any]]("num_children")
        .asInstanceOf[Long] > 0L)
      Thread.sleep(1500) // listener bus is async
      assert(jobs.get() <= 1, s"expected one job per lookup, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("concurrent requests are served in parallel without cross-talk") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val paths = Seq(
      "/cubes/sales/aggregate?drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue",
      "/cubes/sales/aggregate?drilldown%5B%5D=ReturnFlag&measures%5B%5D=sum_qty",
      "/cubes/orders/aggregate?drilldown%5B%5D=Priority&measures%5B%5D=total_sales",
      "/cubes/events/aggregate?drilldown%5B%5D=EventType&measures%5B%5D=value_sum")
    val serial = paths.map(p => get(p)._2)
    val results = Await.result(
      Future.sequence(Seq.fill(3)(paths).flatten.map(p => Future(get(p)))),
      120.seconds)
    assert(results.forall(_._1 == 200))
    // every concurrent response matches its serial twin byte-for-byte
    results.map(_._2).grouped(paths.length).foreach { batch =>
      assert(batch == serial)
    }
  }

  test("flush releases executor cache pinned by the catalog") {
    val cat = CubeCatalog.forDir(spark, SparkTestSession.sf)
    val probe = cat.cachedMemberFrame(("sales", "__flush_probe", false)) {
      spark.range(5).toDF("id")
    }
    probe.count()
    assert(probe.storageLevel.useMemory) // pinned while the catalog lives
    val (code, _) = get("/flush?secret=s3cret")
    assert(code == 200)
    assert(probe.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "flush must unpersist member frames, not just drop the TrieMap")
  }

  test("nest utility groups driver-side collections (C7)") {
    val items = Seq(("a", 1, "x"), ("a", 2, "y"), ("b", 1, "z"))
    val tree = result.Nest.nest[(String, Int, String)](items,
      Seq(t => t._1, t => t._2), xs => xs.map(_._3))
      .asInstanceOf[Map[Any, Any]]
    assert(tree("a").asInstanceOf[Map[Any, Any]](2) == Seq("y"))
    assert(tree("b").asInstanceOf[Map[Any, Any]](1) == Seq("z"))
  }

  test("repeated aggregate answers from the result cache: zero Spark jobs") {
    val q = "/cubes/sales/aggregate?drilldown%5B%5D=Part.Brands.Brand&measures%5B%5D=revenue"
    val (c1, first) = get(q) // cold: plans + collects
    assert(c1 == 200)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (c2, second) = get(q)
      assert(c2 == 200 && second == first)
      // the csv serialization of the same query shares the cached rows
      assert(get(q.replace("aggregate?", "aggregate.csv?"))._1 == 200)
      Thread.sleep(1500) // listener bus is async
      assert(jobs.get() == 0,
        s"cached aggregate must not launch jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // /flush drops the cache with the catalog: the rebuilt catalog
    // recomputes (and still answers identically)
    assert(get("/flush?secret=s3cret")._1 == 200)
    assert(get(q)._2 == first)
  }

  test("named reports: listing, JSONRecords round-trip, CSV, 404") {
    val (lc, listing) = get("/reports")
    assert(lc == 200)
    val names = Json.parse(listing).asInstanceOf[Map[String, Any]]("reports")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("name"))
    assert(names == Seq("dq_audit", "rfm_segments", "copurchase_lift",
      "corpus_health", "top_paths", "probe_fit"))
    // JSONRecords rows must equal the library call the q51 gate verifies
    val (code, body) = get("/reports/dq_audit")
    assert(code == 200)
    val rows = Json.parse(body).asInstanceOf[Seq[Map[String, Any]]]
    val cat = CubeCatalog.forDir(spark, SparkTestSession.sf)
    val expected = ops.DataChecks.dqAudit(cat.table("orders"),
      cat.table("lineitem"), cat.table("customer")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r("check_name"), r("n_violations"))).toSeq ==
      expected.toSeq)
    // CSV carries the same header + rowcount
    val (cc, csv) = get("/reports/rfm_segments.csv")
    assert(cc == 200)
    val lines = csv.split("\r\n")
    assert(lines.head.startsWith("rfm_code"))
    assert(lines.length - 1 ==
      ops.Analytics.rfmSegments(cat.table("orders")).count())
    assert(get("/reports/nope")._1 == 404)
    assert(get("/reports/dq_audit.pdf")._1 == 404)
  }

  test("level members and member-by-key endpoints") {
    val (_, members) = get("/cubes/sales/dimensions/Geography/levels/Region/members")
    val keys = Json.parse(members).asInstanceOf[Map[String, Any]]("members")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("key"))
    assert(keys == Seq(0L, 1L, 2L, 3L, 4L))
    val (code, m) = get("/cubes/sales/dimensions/Geography/levels/Nation/members/3")
    assert(code == 200)
    assert(Json.parse(m).asInstanceOf[Map[String, Any]]("ancestors")
      .asInstanceOf[Seq[Map[String, Any]]].head("caption") == "EUROPE")
  }

  test("debug=true echoes the normalized query and the Spark plan " +
      "(ref api.rb:39,141 add_mdx parity)") {
    val qs = "drilldown%5B%5D=Geography.Region&measures%5B%5D=revenue"
    // absent without the flag (and with debug=false)
    val (_, plain) = get(s"/cubes/sales/aggregate?$qs")
    assert(!Json.parse(plain).asInstanceOf[Map[String, Any]].contains("debug"))
    val (_, off) = get(s"/cubes/sales/aggregate?$qs&debug=false")
    assert(!Json.parse(off).asInstanceOf[Map[String, Any]].contains("debug"))
    // GET with debug=true: debug.query + debug.plan, values unchanged
    val (code, body) = get(s"/cubes/sales/aggregate?$qs&debug=true")
    assert(code == 200)
    val doc = Json.parse(body).asInstanceOf[Map[String, Any]]
    val dbg = doc("debug").asInstanceOf[Map[String, Any]]
    val dq = dbg("query").asInstanceOf[Map[String, Any]]
    assert(dq("cube") == "sales")
    assert(dq("drilldowns") == Seq("Geography.Region"))
    assert(dq("measures") == Seq("revenue"))
    assert(dbg("plan").asInstanceOf[String].nonEmpty)
    assert(doc("values") ==
      Json.parse(plain).asInstanceOf[Map[String, Any]]("values"))
    // POST form body gets the same treatment
    val (pc, pBody) = post("/cubes/sales/aggregate", s"$qs&debug=true",
      "application/x-www-form-urlencoded")
    assert(pc == 200)
    assert(Json.parse(pBody).asInstanceOf[Map[String, Any]].contains("debug"))
    // /mdx carries it too; CSV format is unaffected by the flag
    val (mc, mBody) = post("/mdx?debug=true",
      """SELECT {[Measures].[Revenue]} ON COLUMNS,
        |[Geography].[Region].Members ON ROWS
        |FROM [sales]""".stripMargin)
    assert(mc == 200)
    assert(Json.parse(mBody).asInstanceOf[Map[String, Any]].contains("debug"))
    val (cc, csvBody) = get(s"/cubes/sales/aggregate.csv?$qs&debug=true")
    assert(cc == 200 && !csvBody.contains("debug"))
  }

  test("members routes page with offset/limit in a stable total order") {
    def members(doc: String): Seq[Map[String, Any]] =
      Json.parse(doc).asInstanceOf[Map[String, Any]]("members")
        .asInstanceOf[Seq[Map[String, Any]]]
    val path = "/cubes/sales/dimensions/Part/levels/Part/members"
    val (_, full) = get(path)
    val all = members(full)
    assert(all.length > 20)
    // unpaged response shape is unchanged (reference parity)
    assert(!Json.parse(full).asInstanceOf[Map[String, Any]]
      .contains("total_members"))
    val (code, paged) = get(s"$path?offset=5&limit=10")
    assert(code == 200)
    val doc = Json.parse(paged).asInstanceOf[Map[String, Any]]
    assert(members(paged).map(_("key")) ==
      all.slice(5, 15).map(_("key")), "page must be a stable slice")
    assert(doc("total_members") == all.length.toLong)
    assert(doc("offset") == 5L)
    // limit-only and offset-only
    val (_, l3) = get(s"$path?limit=3")
    assert(members(l3).map(_("key")) == all.take(3).map(_("key")))
    val (_, tail) = get(s"$path?offset=${all.length - 2}")
    assert(members(tail).map(_("key")) == all.takeRight(2).map(_("key")))
  }

  test("the server turns TCP_NODELAY on for its replies") {
    assert(server.boundPort > 0)
    assert(sys.props.get("sun.net.httpserver.nodelay").contains("true"))
  }

  test("a cached aggregate answers a keep-alive client below the 40 ms " +
      "delayed-ACK floor") {
    // one HTTP/1.1 connection, reused: with Nagle on, every reply's body
    // segment waits for the client's delayed ACK (>= 40 ms)
    val keepAlive = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(base +
      "/cubes/sales/aggregate?drilldown%5B%5D=Geography.Region" +
      "&measures%5B%5D=revenue")).build()
    def send(): Int =
      keepAlive.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
    assert(send() == 200) // fills the result cache
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      assert(send() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(ms.size / 2) < 25.0, s"keep-alive repeat ms: $ms")
  }

  private val listings = Seq(
    "/cubes/sales/dimensions/Geography/levels/Supplier/members",
    "/cubes/sales/dimensions/Geography/levels/Supplier/members?caption=1",
    "/cubes/sales/dimensions/Part/levels/Part/members?offset=5&limit=10",
    "/cubes/sales/dimensions/Part/levels/Part/members?offset=5&limit=10" +
      "&member_properties%5B%5D=Size")

  test("a repeated level-member listing, paged or not, runs no Spark job") {
    val first = listings.map(get)
    assert(first.forall(_._1 == 200), first)
    val (again, jobs) = jobsDuring((1 to 3).flatMap(_ => listings.map(get)))
    assert(jobs == 0, s"$jobs Spark jobs on repeated listings")
    assert(again == Seq.fill(3)(first).flatten)
  }

  test("/flush makes the next member listing recompute") {
    val before = listings.map(get)
    assert(jobsDuring(listings.foreach(get))._2 == 0)
    assert(get("/flush?secret=s3cret")._1 == 200)
    val (after, jobs) = jobsDuring(listings.map(get))
    assert(jobs > 0, "a flushed listing must be collected again")
    assert(after == before)
  }

  test("sparse default flips via the graft.sparseDefault system property " +
      "(ref api.rb:138)") {
    // Part × Month is guaranteed sparse at this sf (see FormatterSpec)
    val qs = "drilldown%5B%5D=Part.Part&drilldown%5B%5D=ShipDate.Month&" +
      "measures%5B%5D=revenue"
    def nValues(body: String): Int =
      Json.parse(body).asInstanceOf[Map[String, Any]]("values")
        .asInstanceOf[Seq[Any]].length
    val (_, dense) = get(s"/cubes/sales/aggregate?$qs")
    val (_, explicitSparse) = get(s"/cubes/sales/aggregate?$qs&sparse=true")
    assert(nValues(explicitSparse) < nValues(dense),
      "fixture must actually be sparse")
    try {
      System.setProperty("graft.sparseDefault", "")
      val (_, flipped) = get(s"/cubes/sales/aggregate?$qs")
      assert(nValues(flipped) == nValues(explicitSparse))
      // an explicit sparse=false still wins over the flipped default
      val (_, forced) = get(s"/cubes/sales/aggregate?$qs&sparse=false")
      assert(nValues(forced) == nValues(dense))
    } finally System.clearProperty("graft.sparseDefault")
  }

  test("server boots from a Mondrian catalog XML (ref spec_helper.rb:45): " +
      "metadata, aggregate, role header, skipped-formula debug report") {
    val xml = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/tpch_orders.xml"), "UTF-8")
      .mkString
    val tmp = java.nio.file.Files.createTempFile("graft-cat", ".xml")
    java.nio.file.Files.write(tmp,
      xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val s = new Server(spark, SparkTestSession.sf, 0, flushSecret = None,
      catalogXml = Some(tmp.toString))
    s.start()
    val b = s"http://localhost:${s.boundPort}"
    def getAt(path: String): (Int, String) = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(b + path)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      // metadata comes from the XML-declared schema
      val (c1, body1) = getAt("/cubes")
      assert(c1 == 200)
      val doc = Json.parse(body1).asInstanceOf[Map[String, Any]]
      assert(doc("name") == "TpchXml")
      assert(doc("cubes").asInstanceOf[Seq[Map[String, Any]]]
        .map(_("name")) == Seq("orders_xml"))
      // the aggregation route answers over the XML-bound star
      val (c2, body2) = getAt("/cubes/orders_xml/aggregate?" +
        "drilldown%5B%5D=Geography.Nation&measures%5B%5D=total_sales")
      assert(c2 == 200)
      val agg = Json.parse(body2).asInstanceOf[Map[String, Any]]
      assert(agg("values").asInstanceOf[Seq[Any]].length == 25)
      // the XML-declared role rides the normal role param
      val (c3, body3) = getAt("/cubes/orders_xml/aggregate?" +
        "drilldown%5B%5D=Geography.Nation&measures%5B%5D=total_sales&" +
        "role=apac")
      assert(c3 == 200)
      assert(Json.parse(body3).asInstanceOf[Map[String, Any]]("values")
        .asInstanceOf[Seq[Any]].length == 5)
      // debug=true reports anything the formula translator skipped (this
      // catalog translates fully → present and empty)
      val (c4, body4) = getAt("/cubes?debug=true")
      assert(c4 == 200)
      assert(Json.parse(body4).asInstanceOf[Map[String, Any]]
        .contains("skipped_formulas"))
    } finally {
      s.stop()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("named-set annotation collisions: declared keys always win, the " +
      "descriptor relocates to the first FREE graft_-prefixed key") {
    val ns = graft.model.NamedSetDef("Top X", "Part", "Brand", 5, "revenue",
      annotations = Map("top_k" -> "declared", "graft_top_k" -> "also"))
    val d = graft.result.Metadata.namedSetDict(ns)
    val ann = d("annotations").asInstanceOf[Map[String, Any]]
    assert(ann("top_k") == "declared")
    assert(ann("graft_top_k") == "also")
    assert(ann("graft_graft_top_k") == 5) // descriptor, twice-relocated
    assert(ann("by_measure") == "revenue") // no collision -> plain key
    // no declared collisions: descriptors sit on their plain keys
    val plain = graft.result.Metadata.namedSetDict(
      graft.model.NamedSetDef("Top Y", "Part", "Brand", 3, "revenue"))
      .apply("annotations").asInstanceOf[Map[String, Any]]
    assert(plain("top_k") == 3 && plain("by_measure") == "revenue")
  }
}
