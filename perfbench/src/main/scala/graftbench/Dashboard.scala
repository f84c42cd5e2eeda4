package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.{CubeCatalog, TpchCatalog}
import graft.api.Server

/** Closed-loop REST dashboard: `clients` threads replay one fixed, seeded
  * request sequence against an in-process server, each sending its next
  * request only when the previous reply has arrived. A request is a hit
  * when the identical request already completed earlier in this run (no
  * invalidation happens in this workload), otherwise a miss. */
object Dashboard {
  final case class Sample(idx: Int, req: Req, hit: Boolean, ms: Double,
      bytes: Int)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val requests = ctx.seq("requests").map(Req.parse)
    val byId = requests.map(r => r.id -> r).toMap
    val sequence = ctx.seq("sequence").map(id => byId(id.toString))
    val warmup = ctx.seq("warmup").map(Req.parse)
    val clients = ctx.inputs("clients").toString.toInt

    val te = System.nanoTime()
    val expected = expectedBodies(ctx, requests)
    o.info("expected_bodies_s") = (System.nanoTime() - te) / 1e9

    var server: Server = null
    val setupS = Stats.medianSeconds(3) {
      if (server != null) server.stop()
      CubeCatalog.flush()
      server = new Server(spark, ctx.dataDir, 0, flushSecret = None)
      server.start()
      val c = new Rest.Client(server.boundPort)
      warmup.foreach { r =>
        val (st, _) = c.send(r)
        require(st == 200, s"warm-up request ${r.id} answered $st")
      }
    }
    o.metric("setup_s", ctx.sessionS + setupS, "s")

    val t0 = System.nanoTime()
    val samples = replay(ctx, server.boundPort, sequence, clients, expected, o)
    val elapsed = (System.nanoTime() - t0) / 1e9
    server.stop()
    java.nio.file.Files.write(ctx.outDir.resolve("samples.tsv"),
      samples.map(s => s"${s.idx}\t${s.req.id}\t${s.hit}\t${s.ms}\t${s.bytes}")
        .asJava)

    val hits = samples.filter(_.hit).map(_.ms)
    val misses = samples.filterNot(_.hit).map(_.ms)
    o.metric("work_s", elapsed, "s")
    o.metric("op_ms", Stats.median(samples.map(_.ms)), "ms")
    o.metric("hit_p50_ms", Stats.median(hits), "ms")
    o.metric("hit_p95_ms", Stats.pct(hits, 0.95), "ms")
    o.metric("miss_p50_ms", Stats.median(misses), "ms")
    o.metric("miss_p90_ms", Stats.pct(misses, 0.90), "ms")
    o.metric("req_per_s", samples.size / elapsed, "1/s")
    o.info("requests") = sequence.size
    o.info("hit_samples") = hits.size
    o.info("miss_samples") = misses.size
    o.info("clients") = clients

    if (ctx.tracer.enabled) {
      inProcessPass(ctx, sequence, warmup)
      Layers.report(ctx, o, samples.map(s => s"${s.idx}:${s.req.id}" -> s.bytes))
    }
    o
  }

  /** Expected body of every distinct request, computed before any timing
    * through the library path on a catalog whose result cache is off. */
  private def expectedBodies(ctx: Ctx, requests: Seq[Req])
      : Map[String, Either[String, Array[Byte]]] = {
    val spark = ctx.spark
    spark.conf.set("spark.graft.result.cache.entries", "0")
    val cat = TpchCatalog.build(spark, ctx.dataDir)
    spark.conf.unset("spark.graft.result.cache.entries")
    val bare = new Tracer(spark.sparkContext, enabled = false)
    val pool = Executors.newFixedThreadPool(ctx.cores)
    try {
      requests.map { r =>
        r.id -> pool.submit(() => Try(Rest.answer(cat, r, bare, split = false))
          .toEither.left.map(e => String.valueOf(e.getMessage)))
      }.map { case (id, f) => id -> f.get() }.toMap
    } finally {
      pool.shutdown()
      cat.close()
    }
  }

  private def replay(ctx: Ctx, port: Int, sequence: Seq[Req], clients: Int,
      expected: Map[String, Either[String, Array[Byte]]], o: Outcome)
      : Seq[Sample] = {
    val deadline = System.nanoTime() + ((3 * ctx.seconds + 30) * 1e9).toLong
    val next = new AtomicInteger(0)
    val done = ConcurrentHashMap.newKeySet[String]()
    val samples = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val client = new Rest.Client(port)
        var i = next.getAndIncrement()
        while (i < sequence.size && System.nanoTime() < deadline) {
          val r = sequence(i)
          val hit = done.contains(r.key)
          val a = System.nanoTime()
          val got = Try(client.send(r))
          val b = System.nanoTime()
          ctx.tracer.record(s"$i:${r.id}", "api.request", a, b)
          val verdict = (got.toEither, expected(r.id)) match {
            case (Right((200, body)), Right(exp)) if java.util.Arrays.equals(body, exp) => None
            case (Right((200, _)), Right(_)) => Some("body differs from expected")
            case (Right((st, _)), _) => Some(s"status $st")
            case (Left(e), _) => Some(s"transport error ${e.getMessage}")
          }
          o.synchronized(verdict match {
            case None => o.ok()
            case Some(why) => o.fail(s"dashboard ${r.id}: $why")
          })
          done.add(r.key)
          samples.add(Sample(i, r, hit, (b - a) / 1e6,
            got.map(_._2.length).getOrElse(0)))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val unsent = sequence.size - samples.size
    (0 until unsent).foreach(_ => o.fail("dashboard: request not sent before the deadline"))
    samples.asScala.toSeq.sortBy(_.idx)
  }

  /** Traced only: the same sequence again, in-process through each layer's
    * public function on a fresh catalog, one span per layer call. */
  private def inProcessPass(ctx: Ctx, sequence: Seq[Req], warmup: Seq[Req])
      : Unit = {
    CubeCatalog.flush()
    val cat = CubeCatalog.forDir(ctx.spark, ctx.dataDir)
    val bare = new Tracer(ctx.spark.sparkContext, enabled = false)
    warmup.foreach(Rest.answer(cat, _, bare, split = true))
    sequence.zipWithIndex.foreach { case (r, i) =>
      val id = s"$i:${r.id}"
      ctx.tracer.span(id, "request")(Rest.answer(cat, r.copy(id = id),
        ctx.tracer, split = true))
    }
  }
}
