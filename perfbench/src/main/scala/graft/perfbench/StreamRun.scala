package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.music._
import graft.streaming.{Keyed, Sinks, StatefulOps, TicketReq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Seeded replay of the music entities through the streaming twins, in a
  * closed loop: each trigger's rows are handed to one twin at a time and the
  * next twin starts only after the previous one has committed its
  * micro-batch.
  *
  * Twins: `latestByKey` dimension snapshots (customers, addresses with
  * upserts, artists, venues, events), `runningCount` and `topKCounter(k=3)`
  * over listens per customer, `Topologies.artistStateCounts` over listens
  * joined to the artist and address snapshots, and `capacityLedger` over
  * ticket requests, routed by `Topologies.confirmationRoute` through
  * `Sinks.routedForeachBatch` into `Sinks.idempotentParquetSink`. */
object StreamRun {
  val FactTwins = Seq("running_count", "top3", "artist_state", "ledger")
  /** Fact rows per trigger: small enough that per-micro-batch fixed cost
    * dominates. */
  val TriggerRows = 1000
  /** Untimed triggers first: the first micro-batches of each twin pay for
    * state-store creation, codegen and JIT. */
  val WarmUpTriggers = 6
  /** Timed triggers per run at least, so the round median is a median. */
  val MinRounds = 3

  def apply(run: Run): Map[String, Any] = {
    import run.{spark, trace}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = s"${run.workDir}/checkpoints"
    val sinkDir = s"${run.workDir}/sink"

    run.hostProbe()
    // ---- inputs: entity snapshots and the fact stream, cut into triggers
    def tsv(name: String): Array[Array[String]] = {
      val src = scala.io.Source.fromFile(s"${run.inputDir}/$name.tsv", "UTF-8")
      try src.getLines().map(_.split("\t", -1)).toArray finally src.close()
    }
    def address(f: Array[String]) = Address(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7),
      f(8), f(9), f(10), f(11).toDouble, f(12).toDouble)
    val (customers, addresses, artists, venues, events, listens, tickets, upserts) =
      trace("load:inputs") {
        (tsv("customers").map(f => Customer(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7),
            f(8), f(9), f(10))),
          tsv("addresses").map(address),
          tsv("artists").map(f => Artist(f(0), f(1), f(2))),
          tsv("venues").map(f => Venue(f(0), f(1), f(2), f(3).toInt)),
          tsv("events").map(f => Event(f(0), f(1), f(2), f(3).toInt, f(4))),
          tsv("listens").map(f => (f(0).toLong, f(1).toLong, f(2), f(3), f(4), f(5))),
          tsv("tickets").map(f => (f(0).toLong, f(1).toLong, f(2), f(3), f(4), f(5).toDouble)),
          tsv("address_upserts").map(f => (address(f), f(13).toLong, f(14).toLong)))
      }
    val rounds = ((listens.map(_._2) ++ tickets.map(_._2)).max / TriggerRows + 1).toInt
    val listenRounds = Array.fill(rounds)(mutable.Buffer.empty[(Long, Listen)])
    listens.foreach { case (seq, f, id, c, a, t) =>
      listenRounds((f / TriggerRows).toInt) += (seq -> Listen(id, c, a, t)) }
    val ticketRounds = Array.fill(rounds)(mutable.Buffer.empty[Ticket])
    tickets.foreach { case (_, f, id, c, e, p) => ticketRounds((f / TriggerRows).toInt) += Ticket(id, c, e, p) }
    val upsertRounds = Array.fill(rounds)(mutable.Buffer.empty[Keyed[Address]])
    upserts.sortBy(_._2).foreach { case (a, seq, f) =>
      upsertRounds((f / TriggerRows).toInt) += Keyed(a.id, seq, a) }

    // ---- dimension twins: latest version per key, materialized in memory
    val custS = MemoryStream[Keyed[Customer]]
    val addrS = MemoryStream[Keyed[Address]]
    val artistS = MemoryStream[Keyed[Artist]]
    val venueS = MemoryStream[Keyed[Venue]]
    val eventS = MemoryStream[Keyed[Event]]
    def start(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation", s"$ckpt/$name").start()
    val dimQueries = trace("stream:start-dims") {
      Seq(
        "dim_customers" -> start("dim_customers", StatefulOps.latestByKey(custS.toDS()).toDF()),
        "dim_addresses" -> start("dim_addresses", StatefulOps.latestByKey(addrS.toDS()).toDF()),
        "dim_artists" -> start("dim_artists", StatefulOps.latestByKey(artistS.toDS()).toDF()),
        "dim_venues" -> start("dim_venues", StatefulOps.latestByKey(venueS.toDS()).toDF()),
        "dim_events" -> start("dim_events", StatefulOps.latestByKey(eventS.toDS()).toDF())).toMap
    }
    trace("stream:load-dims") {
      custS.addData(customers.map(c => Keyed(c.id, 0L, c)).toSeq)
      addrS.addData(addresses.map(a => Keyed(a.id, 0L, a)).toSeq)
      artistS.addData(artists.map(a => Keyed(a.id, 0L, a)).toSeq)
      venueS.addData(venues.map(v => Keyed(v.id, 0L, v)).toSeq)
      eventS.addData(events.map(e => Keyed(e.id, 0L, e)).toSeq)
      dimQueries.values.foreach(_.processAllAvailable())
    }
    def snapshot(table: String): DataFrame =
      spark.table(table).groupBy($"key").agg(max_by($"value", $"seq").as("v")).select($"v.*")
    val artistSnap = snapshot("dim_artists")
    val addrSnap = snapshot("dim_addresses")
    val eventSnap = snapshot("dim_events")

    // ---- fact twins
    val countS = MemoryStream[Keyed[String]]
    val topS = MemoryStream[Keyed[String]]
    val listenS = MemoryStream[Listen]
    val ticketS = MemoryStream[Ticket]
    val sinkMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
    val factQueries = trace("stream:start-facts") {
      val reqs = ticketS.toDF()
        .join(eventSnap.select($"id".as("eventid"), $"capacity"), "eventid")
        .select($"id".as("ticketId"), $"customerid", $"eventid", $"capacity",
          expr("cast(substring(id, 2) as long)").as("seq"))
        .as[TicketReq]
      val routed = Topologies.confirmationRoute(StatefulOps.capacityLedger(reqs).toDF(), eventSnap)
      val ledger = Sinks.routedForeachBatch(routed, "route") { (route, slice, batchId) =>
        val t0 = System.nanoTime()
        trace(s"sink:$route")(Sinks.idempotentParquetSink(s"$sinkDir/route=$route")(slice, batchId))
        sinkMs.merge(batchId, (System.nanoTime() - t0) / 1e6, (a, b) => a + b)
      }.queryName("ledger").outputMode("update").option("checkpointLocation", s"$ckpt/ledger").start()
      Seq(
        "running_count" -> start("running_count", StatefulOps.runningCount(countS.toDS()).toDF()),
        "top3" -> start("top3", StatefulOps.topKCounter(topS.toDS(), 3).toDF()),
        "artist_state" -> start("artist_state",
          Topologies.artistStateCounts(listenS.toDF(), artistSnap, addrSnap)),
        "ledger" -> ledger).toMap
    }

    // ---- closed loop
    val latencyMs = mutable.Buffer.empty[(String, Double)]
    def feed[T](name: String, rows: collection.Seq[T], source: MemoryStream[T], q: StreamingQuery): Unit =
      if (rows.nonEmpty) {
        val s = trace.nowUs
        val t0 = System.nanoTime()
        source.addData(rows.toSeq)
        q.processAllAvailable()
        latencyMs += (name -> (System.nanoTime() - t0) / 1e6)
        trace.add(s"batch:$name", s, trace.nowUs)
      }
    def round(r: Int): Unit = trace("round:trigger") {
      feed("dim_addresses", upsertRounds(r), addrS, dimQueries("dim_addresses"))
      val ls = listenRounds(r)
      feed("running_count", ls.map { case (seq, l) => Keyed(l.customerid, seq, l.artistid) },
        countS, factQueries("running_count"))
      feed("top3", ls.map { case (seq, l) => Keyed(l.customerid, seq, l.artistid) },
        topS, factQueries("top3"))
      feed("artist_state", ls.map(_._2), listenS, factQueries("artist_state"))
      feed("ledger", ticketRounds(r), ticketS, factQueries("ledger"))
    }
    for (r <- 0 until WarmUpTriggers) round(r)
    latencyMs.clear()
    val before = run.probe.map(_.snapshot())
    run.markReady()

    val windowStartMs = System.currentTimeMillis()
    val roundMs = mutable.Buffer.empty[Double]
    val t0 = System.nanoTime()
    var r = WarmUpTriggers
    while (r < rounds && (roundMs.size < MinRounds || (System.nanoTime() - t0) / 1e9 < run.seconds)) {
      val r0 = System.nanoTime()
      round(r)
      roundMs += (System.nanoTime() - r0) / 1e6
      r += 1
    }
    val window = run.probe.map(_.snapshot())
    run.hostProbe()

    // ---- final outputs, read back outside the timed window
    val counts = spark.table("running_count").as[(String, Long)].collect()
      .groupMapReduce(_._1)(_._2)(math.max)
    val top3 = spark.table("top3").as[TopPerKey].collect()
      .foldLeft(Map.empty[String, Seq[(String, Long)]])((m, t) =>
        m.updated(t.key, t.top.map(e => e.id -> e.count)))
    val artistState = spark.table("artist_state")
      .as[(String, String, String, Long)].collect()
      .groupMapReduce(t => s"${t._1}|${t._2}")(t => (t._3, t._4))((a, b) => if (a._2 >= b._2) a else b)
    val addressState = addrSnap.filter($"customerid" =!= "").select($"customerid", $"state")
      .as[(String, String)].collect().toMap
    val dimKeys = dimQueries.keys.map(n => n -> snapshot(n).count()).toMap
    (dimQueries.values ++ factQueries.values).foreach(_.stop())

    val factBatches = latencyMs.filter(b => FactTwins.contains(b._1)).map(_._2).toSeq
    val layers = (for (b <- before; w <- window) yield
      streamLayers(run, Probe.delta(w, b), windowStartMs, latencyMs.size, sinkMs)).getOrElse(Map.empty)
    Map(
      "attempted" -> latencyMs.size,
      "failed" -> 0,
      "facts_consumed" -> r.toLong * TriggerRows,
      "round_ms" -> roundMs.toSeq,
      "batch_ms" -> factBatches,
      "final" -> Map(
        "counts" -> counts,
        "top3" -> top3,
        "artist_state" -> artistState,
        "address_state" -> addressState,
        "dim_keys" -> dimKeys),
      "layers" -> layers)
  }

  /** Per-layer figures from the timed window's micro-batch progress: phase
    * and state-store medians per fact micro-batch, final state size, jobs
    * per micro-batch and time inside the idempotent sink. */
  private def streamLayers(
      run: Run, counters: Map[String, Double], windowStartMs: Long, batches: Int,
      sinkMs: java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]): Map[String, Double] = {
    val progress = run.probe.get.progress.asScala.toSeq
      .filter(p => FactTwins.contains(p.name) &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= windowStartMs)
    progress.foreach(p => Probe.phaseSpans(p, run.trace))
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      Stats.median(progress.map(f))
    def phase(name: String) = med(p => p.durationMs.asScala.get(name).map(_.toDouble).getOrElse(0.0))
    val last = progress.groupBy(_.name).values.map(_.maxBy(_.batchId))
    val ledgerBatches = progress.filter(_.name == "ledger").map(_.batchId).toSet
    counters ++ Map(
      "batch.queryPlanning_ms" -> phase("queryPlanning"),
      "batch.addBatch_ms" -> phase("addBatch"),
      "batch.walCommit_ms" -> phase("walCommit"),
      "batch.commitOffsets_ms" -> phase("commitOffsets"),
      "state.commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "state.updates_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "state.rows_total" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "state.memory_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / 1048576.0,
      "sched.jobs_per_batch" -> counters.getOrElse("sched.jobs", 0.0) / math.max(1, batches),
      "sink.commit_ms" -> Stats.median(sinkMs.asScala.collect {
        case (id, ms) if ledgerBatches.contains(id) => ms.doubleValue }.toSeq))
  }
}
