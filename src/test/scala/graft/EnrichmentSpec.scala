package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EnrichmentSource, Intel, PtrSource, ShodanSource}

/** The pluggable-connector seam: fixture sources delegate to Intel's joins
  * unchanged, and a connector implemented entirely OUTSIDE the library (as a
  * live whois/DNS/Shodan integration would be) plugs in without touching
  * Intel.scala.
  */
class EnrichmentSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  private def ips: DataFrame = {
    import spark.implicits._
    (1L to 20L).map(e => (e, (e * 2654435761L) % 4294967296L)).toDF("entity", "ip")
  }

  test("fixture sources reproduce the direct Intel joins exactly") {
    import spark.implicits._
    val scanDb = ips.filter($"ip" % 4 === 1)
      .select($"ip", lit("22,80").as("ports"), lit("iot").as("tags"))
    val viaSeam = ShodanSource(scanDb).enrich(ips).orderBy($"entity").collect()
    val direct = Intel.shodanEnrich(ips, scanDb).orderBy($"entity").collect()
    assert(viaSeam.toSeq === direct.toSeq)

    val ptrDb = ips.filter($"entity" % 2 === 0)
      .select($"ip", concat(lit("h"), $"entity", lit(".example.net")).as("hostname"))
    assert(PtrSource(ptrDb).enrich(ips).orderBy($"entity").collect().toSeq ===
      Intel.ptrEnrich(ips, ptrDb).orderBy($"entity").collect().toSeq)
  }

  test("feeds declares EVERY table enrich joins, and each stays feed-sized") {
    import spark.implicits._
    val scanDb = ips.filter($"ip" % 4 === 1)
      .select($"ip", lit("22,80").as("ports"), lit("iot").as("tags"))
    val setLists = ips.filter($"ip" % 5 === 0).select(lit("bl1").as("list_id"), $"ip")
    val prefixLists = Seq(("p1", 0L, 1000000L)).toDF("list_id", "p_start", "p_end")
    val sources = Seq(
      ShodanSource(scanDb),
      graft.sources.RedisBlSource(setLists, prefixLists))
    sources.foreach { src =>
      // the scale contract is checkable across the WHOLE connector: every
      // joined table is declared (RedisBl has two — sets AND prefixes)
      assert(src.feeds.nonEmpty, src.name)
      src.feeds.foreach(f => assert(f.count() <= 1000L, s"${src.name} feed too big"))
    }
    assert(sources.find(_.name == "redis_bl").get.feeds.size == 2)
  }

  test("a connector defined outside the library plugs in through the trait") {
    import spark.implicits._
    // A stand-in for a live integration: the feed is assembled by the
    // connector itself (here programmatically; in production from an API
    // batch), and the engine only ever sees the trait.
    final class FakeLiveGreynoise extends EnrichmentSource {
      val name = "greynoise"
      private def feed: DataFrame =
        (1L to 20L).filter(_ % 3 == 0)
          .map(e => ((e * 2654435761L) % 4294967296L, "scanner"))
          .toDF("ip", "classification")
      def feeds: Seq[DataFrame] = Seq(feed)
      def enrich(entities: DataFrame): DataFrame =
        entities.join(broadcast(feed), Seq("ip"), "left")
          .select(col("entity"), col("ip"),
            coalesce(col("classification"), lit("unknown")).as("classification"))
    }
    val out = new FakeLiveGreynoise().enrich(ips)
    assert(out.count() === 20)
    assert(out.filter($"classification" === "scanner").count() ===
      (1L to 20L).count(_ % 3 == 0))
    // the seam's scale contract: the feed side is broadcast, the entity
    // frame never shuffles for enrichment
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("live HTTP blacklist connector: fetches and parses when enabled, gates to fallback otherwise") {
    import spark.implicits._
    import graft.sources.HttpBlacklistSource
    import graft.functions.Funcs
    // a LOCAL loopback server playing the blacklist host — the live fetch
    // path runs for real (HTTP transport + reference line parsing) with
    // zero egress; the body mixes comments, garbage, dupes, and valid IPs
    val body =
      """# spamlist v1
        |10.0.0.1
        |10.0.0.2 ; botnet
        |//comment
        |not-an-ip
        |10.0.0.1
        |300.400.500.600""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/bl.txt", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/bl.txt"
      val fallback = Seq((999L, "fixture")).toDF("ip", "bl_id")
      val live = HttpBlacklistSource(spark, url, "spamlist", fallback,
        enabled = true)
      val got = live.setList.orderBy($"ip").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // 10.0.0.1 deduped; comment/garbage lines yield nothing
      assert(got.map(_._2).forall(_ == "spamlist"))
      val expected1 = spark.range(1).select(
        Funcs.ipstr2int(lit("10.0.0.1"))).head.getLong(0)
      assert(got.map(_._1).contains(expected1))
      assert(got.length >= 2)
      // enrich is a broadcast membership join through the fetched feed
      val ents = Seq((7L, expected1), (8L, 12345L)).toDF("entity", "ip")
      val hits = live.enrich(ents).collect()
      assert(hits.map(_.getLong(0)).toSeq == Seq(7L))
      // gated off: no connection is opened, the fallback serves
      val gated = HttpBlacklistSource(spark, "http://127.0.0.1:1/bl.txt",
        "spamlist", fallback, enabled = false)
      assert(gated.setList.collect().map(_.getLong(0)).toSeq == Seq(999L))
      // fetch failure (dead port) degrades to the fallback, not an error
      val dead = HttpBlacklistSource(spark, "http://127.0.0.1:1/bl.txt",
        "spamlist", fallback, enabled = true, timeoutMs = 500)
      assert(dead.setList.collect().map(_.getLong(0)).toSeq == Seq(999L))
      // file:// scheme, as in the reference's local-file branch
      val f = java.nio.file.Files.createTempFile("bl", ".txt")
      java.nio.file.Files.writeString(f, "10.1.1.1\n#c\n")
      val fileSrc = HttpBlacklistSource(spark, f.toUri.toString, "spamlist",
        fallback, enabled = true)
      assert(fileSrc.setList.count() == 1L)
      // a MISCONFIGURATION (unsupported scheme) must throw, not silently
      // serve the fallback forever — only transient failures degrade
      val typo = HttpBlacklistSource(spark, "htps://host/bl.txt", "spamlist",
        fallback, enabled = true)
      intercept[IllegalArgumentException](typo.setList.count())
      // an over-limit body drops its final PARTIAL line (a cut
      // '10.0.0.250' would otherwise parse as the wrong address '10.0.0.2')
      val big = HttpBlacklistSource(spark, url, "spamlist", fallback,
        enabled = true, maxBytes = body.indexOf("10.0.0.2 ;") + 6)
      val bigIps = big.setList.collect().map(_.getLong(0)).toSeq
      assert(bigIps == Seq(expected1), s"partial tail must be dropped: $bigIps")
    } finally server.stop(0)
  }

  test("live MISP receiver: polls restSearch with auth, maps attributes to feed rows; gate/degrade/misconfig taxonomy") {
    import spark.implicits._
    import graft.sources.{IntelLive, LiveMispSource}
    // the reference's value extraction across attribute types
    assert(IntelLive.attributeIp("ip-src", "10.0.0.1").contains(0x0A000001L))
    assert(IntelLive.attributeIp("ip-dst|port", "10.0.0.2|443").contains(0x0A000002L))
    assert(IntelLive.attributeIp("domain|ip", "evil.example|10.0.0.3").contains(0x0A000003L))
    assert(IntelLive.attributeIp("ip-src", "not-an-ip").isEmpty)
    assert(IntelLive.attributeIp("ip-src", "300.1.1.1").isEmpty)
    @volatile var gotAuth: String = null
    @volatile var gotMethod: String = null
    val mispBody =
      """{"response":{"Attribute":[
        |{"event_id":"101","type":"ip-src","value":"10.0.0.1","timestamp":"1700000000","deleted":false,
        | "Sighting":[{"type":"0"},{"type":"0"},{"type":"1"}],
        | "Event":{"id":"101","date":"2023-11-10","info":"Botnet C2 infra","threat_level_id":"2","timestamp":"1699999000","Orgc":{"name":"CIRCL"}}},
        |{"event_id":"101","type":"ip-dst|port","value":"10.0.0.2|443","timestamp":"1700086400"},
        |{"event_id":"102","type":"domain|ip","value":"evil.example|10.0.0.3","timestamp":"1700000000"},
        |{"event_id":"103","type":"ip-src","value":"not-an-ip","timestamp":"1700000000"},
        |{"event_id":"104","type":"ip-src","value":"10.0.0.9","timestamp":"1700000000","deleted":true}
        |]}}""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/attributes/restSearch",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        gotAuth = ex.getRequestHeaders.getFirst("Authorization")
        gotMethod = ex.getRequestMethod
        val b = mispBody.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val fallback = Seq((999L, 1L, java.sql.Date.valueOf("2020-01-01")))
        .toDF("entity", "pulse_id", "day")
      val live = LiveMispSource(spark, url, "test-key", fallback, enabled = true)
      val rows = live.feed.orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toString))
      // deleted + unparseable skipped; timestamps become UTC days
      assert(rows.toSeq == Seq(
        (0x0A000001L, 101L, "2023-11-14"),
        (0x0A000002L, 101L, "2023-11-15"),
        (0x0A000003L, 102L, "2023-11-14")))
      assert(gotAuth == "test-key" && gotMethod == "POST")
      // typed op surface: live attrs → array_upsert with role + sighting
      // counters, DELETED attrs → array_remove (misp_receiver.py:260–311)
      locally {
        import graft.ops.UpdateAlgebra._
        val ops = live.ops
        // 3 live upserts + 1 deleted removal + the setmax _ttl.misp /
        // last_activity pair for the ONE attribute whose Event context was
        // inlined (upsert_new_event queues them alongside the upsert)
        assert(ops.length == 6)
        val ttl = ops.collectFirst { case (ip, SetMax("_ttl.misp", v, _)) => (ip, v) }
        val evDate = java.time.LocalDate.parse("2023-11-10")
          .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
        assert(ttl.contains((0x0A000001L, evDate + 180L * 86400L)),
          s"_ttl.misp must anchor at event date + record_life_length.misp: $ttl")
        assert(ops.collectFirst { case (ip, SetMax("last_activity", v, _)) => (ip, v) }
          .contains((0x0A000001L, evDate)))
        val removals = ops.collect { case (ip, r: ArrayRemove) => (ip, r) }
        assert(removals.map(_._1) == Seq(0x0A000009L))
        assert(removals.head._2.key == "misp_events" &&
          removals.head._2.query.toMap ==
            Map("misp_instance" -> url, "event_id" -> 104L))
        val up1 = ops.collect { case (ip, u: ArrayUpsert) if ip == 0x0A000001L => u }.head
        val sightings = up1.actions.collectFirst {
          case SetVal("sightings", v: Rec @unchecked, _) => v }.get
        assert(sightings("positive") == 2L && sightings("false positive") == 1L
          && sightings("expired attribute") == 0L)
        // event-level fields from the inlined context (create_new_event)
        val evFields = up1.actions.collect { case SetVal(k, v, _) => k -> v }.toMap
        assert(evFields("org_created") == "CIRCL" &&
          evFields("info") == "Botnet C2 infra" &&
          evFields("threat_level") == "Medium" &&
          evFields("tlp") == "green" &&
          evFields("date") == evDate &&
          evFields("last_change") == 1699999000L, evFields.toString)
        // context-less attributes degrade to the role+sightings subset
        val up2 = ops.collect { case (ip, u: ArrayUpsert) if ip == 0x0A000002L => u }.head
        assert(up2.actions.collect { case SetVal(k, _, _) => k }.toSet ==
          Set("role", "sightings"))
        // round-trip THROUGH the fold: the upsert lands the event, the
        // removal for the same (instance, event_id) takes it back out
        val rmQuery = Seq[(String, Any)]("misp_instance" -> url, "event_id" -> 101L)
        val (rec1, _, _) = applyTask(None, Seq(up1), now = 1L, eid = "10.0.0.1")
        assert(rec1.get("misp_events").asInstanceOf[collection.Seq[Any]].length == 1)
        val (rec2, _, _) = applyTask(rec1, Seq(ArrayRemove("misp_events", rmQuery)),
          now = 2L, eid = "10.0.0.1")
        assert(rec2.get("misp_events").asInstanceOf[collection.Seq[Any]].isEmpty)
        // gated/degraded polls carry NO op stream (fixture feed only)
        assert(LiveMispSource(spark, "http://127.0.0.1:1", "k", fallback,
          enabled = false).ops.isEmpty)
      }
      // enrich: per-entity misp half of threatIntelSummary, zero-filled
      val ents = Seq((0x0A000001L, 1L), (12345L, 2L)).toDF("entity", "ip")
      val en = live.enrich(ents).orderBy($"entity").collect()
      assert(en.length == 2)
      assert(en.map(r => (r.getLong(r.fieldIndex("n_misp_events")),
        r.getLong(r.fieldIndex("n_sightings")))).toSeq == Seq((0L, 0L), (1L, 1L)))
      // gated off: fallback, no connection
      val gated = LiveMispSource(spark, "http://127.0.0.1:1", "k", fallback,
        enabled = false)
      assert(gated.feed.collect().map(_.getLong(0)).toSeq == Seq(999L))
      // transient (dead port) degrades to fallback
      val dead = LiveMispSource(spark, "http://127.0.0.1:1", "k", fallback,
        enabled = true, timeoutMs = 500)
      assert(dead.feed.collect().map(_.getLong(0)).toSeq == Seq(999L))
      // misconfiguration throws — never a silent fallback
      val typo = LiveMispSource(spark, "ftp://host", "k", fallback, enabled = true)
      intercept[IllegalArgumentException](typo.feed.count())
    } finally server.stop(0)
  }

  test("live OTX receiver: follows bounded same-host pagination, maps IPv4 indicators; gate/degrade taxonomy") {
    import spark.implicits._
    import graft.sources.LiveOtxSource
    @volatile var gotKey: String = null
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.start()
    val port = server.getAddress.getPort
    val page2Url = s"http://127.0.0.1:$port/api/v1/pulses/subscribed?page=2"
    val page1 =
      s"""{"results":[{"id":201,"name":"Botnet C2","author_name":"alice",
         |"created":"2023-11-01T00:00:00","modified":"2023-11-10T00:00:00",
         |"indicators":[
         |{"type":"IPv4","indicator":"10.1.0.1","created":"2023-11-09T00:00:00",
         | "expiration":"2023-12-01T00:00:00","role":"scanner","title":"t1"},
         |{"type":"domain","indicator":"x.example"},
         |{"type":"IPv4","indicator":"garbage"},
         |{"type":"IPv4","indicator":"10.1.0.9","created":"2023-01-01T00:00:00"}]}],
         |"next":"$page2Url"}""".stripMargin
    val page2 =
      """{"results":[{"id":202,"indicators":[
        |{"type":"IPv4","indicator":"10.1.0.2"}]}],"next":null}""".stripMargin
    server.createContext("/api/v1/pulses/subscribed",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        gotKey = ex.getRequestHeaders.getFirst("X-OTX-API-KEY")
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val b = (if (q.contains("page=2")) page2 else page1).getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
    try {
      val url = s"http://127.0.0.1:$port"
      val fallback = Seq((999L, 1L)).toDF("entity", "pulse_id")
      val live = LiveOtxSource(spark, url, "otx-key", fallback, enabled = true)
      val rows = live.feed.orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // both pages walked; non-IPv4 + garbage indicators skipped
      assert(rows.toSeq == Seq((0x0A010001L, 201L), (0x0A010002L, 202L),
        (0x0A010009L, 201L)))
      assert(gotKey == "otx-key")
      // typed op surface: per fresh IPv4 indicator, the reference's task
      // (otx_receiver.py:136-175): array_upsert otx_pulses {pulse_id} +
      // setmax _ttl.otx + setmax last_activity; stale indicators skipped
      locally {
        import graft.ops.UpdateAlgebra._
        val now = LiveOtxSource.parseEpoch("2023-11-14T00:00:00").get
        val opsLive = LiveOtxSource(spark, url, "otx-key", fallback,
          enabled = true, nowEpochSec = () => now)
        val ops = opsLive.ops
        // 10.1.0.9 created 2023-01-01 is past the 30-day freshness cutoff;
        // 10.1.0.2 has no created date -> treated fresh
        assert(ops.map(_._1).sorted == Seq(0x0A010001L, 0x0A010002L))
        val task1 = ops.find(_._1 == 0x0A010001L).get._2
        val up = task1.collectFirst { case u: ArrayUpsert => u }.get
        assert(up.key == "otx_pulses" && up.query == Seq("pulse_id" -> 201L))
        val fields = up.actions.collect { case SetVal(k, v, _) => k -> v }.toMap
        assert(fields("pulse_name") == "Botnet C2" &&
          fields("author_name") == "alice" &&
          fields("indicator_role") == "scanner" &&
          fields("indicator_title") == "t1")
        val exp = LiveOtxSource.parseEpoch("2023-12-01T00:00:00").get
        assert(task1.collectFirst { case SetMax("_ttl.otx", v, _) => v }
          .contains(exp + 30 * 86400L))
        assert(task1.collectFirst { case SetMax("last_activity", v, _) => v }
          .contains(now))
        // an expiration-less indicator's ttl anchors at the poll time
        val task2 = ops.find(_._1 == 0x0A010002L).get._2
        assert(task2.collectFirst { case SetMax("_ttl.otx", v, _) => v }
          .contains(now + 30 * 86400L))
        // the ops round-trip through the fold: upsert lands the pulse
        val (rec, _, _) = applyTask(None, task1, now = 1L, eid = "10.1.0.1")
        val pulses = rec.get("otx_pulses").asInstanceOf[collection.Seq[Any]]
        assert(pulses.length == 1)
        // dotted keys descend: _ttl.otx lands as rec("_ttl")("otx")
        assert(rec.get("_ttl").asInstanceOf[Rec]("otx") == exp + 30 * 86400L)
        // gated: no op stream
        assert(LiveOtxSource(spark, "http://127.0.0.1:1", "k", fallback,
          enabled = false).ops.isEmpty)
      }
      // maxPages bounds a next-chain that never ends (self-linking page)
      val loopBody =
        s"""{"results":[{"id":300,"indicators":[{"type":"IPv4","indicator":"10.2.0.1"}]}],
           |"next":"http://127.0.0.1:$port/loop/api/v1/pulses/subscribed?page=again"}""".stripMargin
      server.createContext("/loop/api/v1/pulses/subscribed",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          val b = loopBody.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
          ex.close()
        })
      val looping = LiveOtxSource(spark, s"$url/loop", "k", fallback,
        enabled = true, maxPages = 3)
      val looped = looping.fetchAllPages()
      assert(looped.exists(_.length == 3), s"must stop at maxPages: $looped")
      // an off-host next link is refused (chain can't redirect the poller)
      val hostile = live.parsePulsePage(
        """{"results":[],"next":"http://evil.example/x"}""")
      assert(hostile.exists(_._2.contains("http://evil.example/x")))
      // (the filter applies in fetchAllPages; parse just surfaces the link)
      val gated = LiveOtxSource(spark, "http://127.0.0.1:1", "k", fallback,
        enabled = false)
      assert(gated.feed.collect().map(_.getLong(0)).toSeq == Seq(999L))
      val dead = LiveOtxSource(spark, "http://127.0.0.1:1", "k", fallback,
        enabled = true, timeoutMs = 500)
      assert(dead.feed.collect().map(_.getLong(0)).toSeq == Seq(999L))
      val en = live.enrich(Seq((0x0A010001L, 5L), (7L, 6L)).toDF("entity", "ip"))
        .orderBy($"entity").collect()
      assert(en.map(_.getLong(en.head.fieldIndex("n_otx_pulses"))).toSeq == Seq(0L, 1L))
    } finally server.stop(0)
  }

  test("live DNS PTR connector: resolves via a loopback DNS server; NXDOMAIN removes, timeout no-ops, gate serves fixture") {
    import spark.implicits._
    import graft.sources.LiveDnsPtrSource
    // pure reversed-name formation (RFC 1035 §3.5)
    assert(LiveDnsPtrSource.reverseName(0x01020304L) == "4.3.2.1.in-addr.arpa.")
    // a LOCAL loopback UDP DNS server playing the resolver — the live
    // lookup path (JNDI transport + wire parse) runs for real, zero egress
    val ip1 = 0x0A000001L; val ip2 = 0x0A000002L; val ip3 = 0x0A000003L
    val answers = Map( // qname -> Some(ptr) | None = NXDOMAIN; absent = drop
      LiveDnsPtrSource.reverseName(ip1) -> Some("host1.example.net."),
      LiveDnsPtrSource.reverseName(ip2) -> None)
    val sock = new java.net.DatagramSocket(0,
      java.net.InetAddress.getByName("127.0.0.1"))
    val serverThread = new Thread(() => {
      val buf = new Array[Byte](512)
      try while (!sock.isClosed) {
        val pkt = new java.net.DatagramPacket(buf, buf.length)
        sock.receive(pkt)
        val q = pkt.getData
        // parse QNAME from offset 12
        var i = 12
        val sb = new StringBuilder
        while (q(i) != 0) {
          val l = q(i) & 0xff
          sb.append(new String(q, i + 1, l, "ASCII")).append('.')
          i += l + 1
        }
        val qname = sb.toString
        val qend = i + 5 // zero + qtype(2) + qclass(2)
        if (answers.contains(qname)) { // unknown names: DROP (timeout path)
          val out = new java.io.ByteArrayOutputStream(128)
          out.write(q, 0, 2) // echo ID
          answers(qname) match {
            case Some(host) =>
              out.write(Array[Byte](0x81.toByte, 0x80.toByte,
                0, 1, 0, 1, 0, 0, 0, 0))          // NOERROR, 1 answer
              out.write(q, 12, qend - 12)          // question echo
              out.write(Array[Byte](0xC0.toByte, 0x0C, // name ptr to qname
                0, 12, 0, 1, 0, 0, 0, 60))         // PTR, IN, TTL 60
              val rd = new java.io.ByteArrayOutputStream(64)
              host.stripSuffix(".").split('.').foreach { lab =>
                rd.write(lab.length); rd.write(lab.getBytes("ASCII"))
              }
              rd.write(0)
              out.write((rd.size() >> 8) & 0xff); out.write(rd.size() & 0xff)
              rd.writeTo(out)
            case None =>
              out.write(Array[Byte](0x81.toByte, 0x83.toByte, // NXDOMAIN
                0, 1, 0, 0, 0, 0, 0, 0))
              out.write(q, 12, qend - 12)
          }
          val rb = out.toByteArray
          sock.send(new java.net.DatagramPacket(rb, rb.length,
            pkt.getAddress, pkt.getPort))
        }
      } catch { case _: java.net.SocketException => () } // closed: exit
    })
    serverThread.setDaemon(true)
    serverThread.start()
    try {
      val fallback = Seq((ip1, "fixture.example.org")).toDF("ip", "hostname")
      // 4 entities, budget 3: ip1 resolves, ip2 NXDOMAINs, ip3 times out
      // (no-op), entity 40 is beyond budget (not queried -> no-op)
      val ents = Seq((10L, ip1), (20L, ip2), (30L, ip3), (40L, ip1))
        .toDF("entity", "ip")
      val live = LiveDnsPtrSource(fallback, enabled = true, budget = 3,
        timeoutMs = 400,
        dnsUrl = s"dns://127.0.0.1:${sock.getLocalPort}")
      val got = live.enrich(ents).orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      assert(got(0) == ((10L, "host1.example.net", 0L)), got.mkString(","))
      assert(got(1) == ((20L, "", 1L)))   // NXDOMAIN: removal signal
      assert(got(2) == ((30L, "", 0L)))   // transient timeout: no-op
      assert(got(3) == ((40L, "", 0L)))   // beyond budget: no-op
      // gated off: identical to the fixture join, no socket is touched
      val gated = LiveDnsPtrSource(fallback, enabled = false)
      val g = gated.enrich(Seq((10L, ip1), (20L, ip2)).toDF("entity", "ip"))
        .orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      assert(g(0) == ((10L, "fixture.example.org", 0L)))
      assert(g(1) == ((20L, "", 1L))) // not in fixture db: NXDOMAIN analog
    } finally sock.close()
  }

  test("live whois connector: port-43 resolve via loopback, record parse, cross-entity record creation fold") {
    import spark.implicits._
    import graft.sources.LiveWhoisSource
    // pure parse: RIPE-style record with comments, AS prefix, first-wins
    val (a, i, nm) = LiveWhoisSource.parseRecord(
      """% This is the RIPE Database query service.
        |inetnum:        10.1.0.0 - 10.1.255.255
        |netname:        TEST-NET-A
        |origin:         AS64500
        |origin:         AS64999
        |# trailing comment""".stripMargin)
    assert(a.contains(64500L) && i.contains("10.1.0.0 - 10.1.255.255") &&
      nm.contains("TEST-NET-A"))
    assert(LiveWhoisSource.parseRecord("%ERROR:101: no entries found\n") ==
      ((None, None, None)))
    assert(LiveWhoisSource.blockStart("10.1.0.0 - 10.1.255.255")
      .contains((10L << 24) | (1L << 16)))
    assert(LiveWhoisSource.queryName((10L << 24) | (1L << 16) | 7L) == "10.1.0.7")
    // loopback RFC 3912 server: one query line per connection, answer by ip
    val ip1 = (10L << 24) | (1L << 16) | 5L  // full record
    val ip2 = (10L << 24) | (2L << 16) | 5L  // definitive no-match
    val ip3 = (10L << 24) | (3L << 16) | 5L  // connection reset: transient
    val server = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val serverThread = new Thread(() => {
      try while (!server.isClosed) {
        val c = server.accept()
        try {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(c.getInputStream, "US-ASCII"))
          val q = r.readLine()
          val resp =
            if (q == LiveWhoisSource.queryName(ip1))
              Some("""% query reply
                     |inetnum:        10.1.0.0 - 10.1.255.255
                     |netname:        TEST-NET-A
                     |origin:         AS64500
                     |""".stripMargin)
            else if (q == LiveWhoisSource.queryName(ip2))
              Some("%ERROR:101: no entries found\n")
            else None // slam the connection: transient failure
          resp.foreach(t => c.getOutputStream.write(t.getBytes("UTF-8")))
        } finally c.close()
      } catch { case _: java.net.SocketException => () }
    })
    serverThread.setDaemon(true)
    serverThread.start()
    try {
      val fallback = Seq((ip1, 64501L, "10.9.0.0 - 10.9.0.255", "FIXTURE-NET"))
        .toDF("ip", "asn", "inetnum", "netname")
      val ents = Seq((1L, ip1), (2L, ip2), (3L, ip3), (4L, ip1))
        .toDF("entity", "ip")
      val live = LiveWhoisSource(fallback, enabled = true, budget = 3,
        host = "127.0.0.1", port = server.getLocalPort, timeoutMs = 1500)
      val got = live.enrich(ents).orderBy($"entity").collect()
        .map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(4)), r.getLong(5)))
      assert(got(0) == ((1L, Some(64500L), Some("TEST-NET-A"), 1L)), got.mkString(","))
      assert(got(1) == ((2L, None, None, 0L)))  // definitive no-match
      assert(got(2) == ((3L, None, None, 0L)))  // transient
      assert(got(3) == ((4L, None, None, 0L)))  // beyond budget
      // cross-entity record creation: the found answer materializes the
      // asn and ipblock records through the SAME fold algebra, ref-counted
      val resolved = live.enrich(Seq((1L, ip1), (4L, ip1)).toDF("entity", "ip"))
      val tasks = LiveWhoisSource.crossEntityTasks(resolved)
      import graft.fold.EntityFold
      val asnRec = EntityFold.applyTypedTasks(
        tasks.filter(_.etype == "asn"), now = 1700000000L)(
        (eid, rec) => (eid, rec("_ref_cnt").asInstanceOf[Long])).head()
      assert(asnRec == ((64500L, 2L))) // two ips reference AS64500
      val blockRec = EntityFold.applyTypedTasks(
        tasks.filter(_.etype == "ipblock"), now = 1700000000L)(
        (eid, rec) => (eid, rec("_ref_cnt").asInstanceOf[Long],
          rec("name").asInstanceOf[String])).head()
      assert(blockRec == (((10L << 24) | (1L << 16), 2L, "TEST-NET-A")))
      val ipFk = EntityFold.applyTypedTasks(
        tasks.filter(_.etype == "ip"), now = 1700000000L)(
        (eid, rec) => (eid, rec("asn").asInstanceOf[Long],
          rec("ipblock").asInstanceOf[Long])).collect().sortBy(_._1)
      assert(ipFk.toSeq == Seq((1L, 64500L, (10L << 24) | (1L << 16)),
        (4L, 64500L, (10L << 24) | (1L << 16))))
      // gated off: the fixture parsed-record table serves through the join
      val gated = LiveWhoisSource(fallback, enabled = false)
      val g = gated.enrich(Seq((1L, ip1), (2L, ip2)).toDF("entity", "ip"))
        .orderBy($"entity").collect()
        .map(r => (r.getLong(0), Option(r.get(2)), r.getLong(5)))
      assert(g(0) == ((1L, Some(64501L), 1L)))
      assert(g(1) == ((2L, None, 0L)))
    } finally server.close()
  }

  test("live Shodan InternetDB connector: 200 upserts, 404 removes, transport failure no-ops, gate serves fixture") {
    import spark.implicits._
    import graft.sources.LiveShodanSource
    // pure JSON field extraction (flat InternetDB object, no json lib)
    val body = """{"cpes":[],"hostnames":["x.example.net"],"ip":"10.0.0.1","ports":[22,8080],"tags":["iot","vpn"],"vulns":[]}"""
    assert(LiveShodanSource.jsonNumArray(body, "ports") == Seq(22L, 8080L))
    assert(LiveShodanSource.jsonStrArray(body, "tags") == Seq("iot", "vpn"))
    assert(LiveShodanSource.jsonNumArray("""{"ports":[]}""", "ports").isEmpty)
    assert(LiveShodanSource.jsonNumArray("""{}""", "ports").isEmpty)
    val ip1 = (10L << 24) | 1L // 200 with scan data
    val ip2 = (10L << 24) | 2L // 404: definitive miss -> removal
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (ex.getRequestURI.getPath == "/10.0.0.1") {
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try {
      val fallback = Seq((ip1, "1,2", "fixture")).toDF("ip", "ports", "tags")
      val ents = Seq((1L, ip1), (2L, ip2), (3L, ip1)).toDF("entity", "ip")
      val live = LiveShodanSource(fallback, enabled = true, budget = 2,
        baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}",
        timeoutMs = 1500)
      val got = live.enrich(ents).orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getString(4),
          r.getLong(5)))
      assert(got(0) == ((1L, "22,8080", 2L, "iot,vpn", 0L)), got.mkString(","))
      assert(got(1) == ((2L, "", 0L, "", 1L)))  // 404: removal path
      assert(got(2) == ((3L, "", 0L, "", 0L)))  // beyond budget: no-op
      // transport failure (dead port): no-op, NOT removal
      val dead = LiveShodanSource(fallback, enabled = true, budget = 2,
        baseUrl = "http://127.0.0.1:1", timeoutMs = 300)
      val d = dead.enrich(Seq((1L, ip1)).toDF("entity", "ip")).head()
      assert(d.getLong(5) == 0L && d.getString(2) == "")
      // gated off: identical to the Intel fixture join
      val gated = LiveShodanSource(fallback, enabled = false)
      val g = gated.enrich(Seq((1L, ip1), (2L, ip2)).toDF("entity", "ip"))
        .orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(5)))
      assert(g(0) == ((1L, "1,2", 0L)))
      assert(g(1) == ((2L, "", 1L))) // not in scan db: the 404 analog
    } finally server.stop(0)
  }

  test("live ASN-rank feed fetcher: CSV parse when enabled, fetch failure and gate serve fixture") {
    import spark.implicits._
    import graft.sources.HttpAsnRankSource
    val csv =
      """# CIRCL BGP Ranking export
        |64500,1.00023
        |AS64501, 0.5
        |not-a-row
        |64502,abc
        |64503,0.25,extra-col-ok""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ranks.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = csv.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/ranks.csv"
      val fallback = Seq((999L, 9.9)).toDF("asn", "bgprank")
      val live = HttpAsnRankSource(spark, url, "bgprank", fallback, enabled = true)
      val got = live.ranks.orderBy($"asn").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // comment/garbage/non-numeric-rank rows dropped, AS prefix stripped
      assert(got.toSeq == Seq((64500L, 1.00023), (64501L, 0.5), (64503L, 0.25)))
      // enrich joins the fetched feed broadcast onto the ASN rollup
      val ents = Seq((1L, 64500L), (2L, 64500L), (3L, 777L)).toDF("entity", "asn")
      val e = live.enrich(ents).orderBy($"asn").collect()
      assert(e.length == 2 && e(1).getLong(1) == 2L && e(1).getDouble(2) == 1.00023)
      assert(e(0).isNullAt(2)) // unranked asn: left-join miss
      // dead port degrades to the fixture; gate never opens a connection
      val dead = HttpAsnRankSource(spark, "http://127.0.0.1:1/r.csv",
        "bgprank", fallback, enabled = true, timeoutMs = 300)
      assert(dead.ranks.collect().map(_.getLong(0)).toSeq == Seq(999L))
      val gated = HttpAsnRankSource(spark, url, "bgprank", fallback,
        enabled = false)
      assert(gated.ranks.collect().map(_.getLong(0)).toSeq == Seq(999L))
    } finally server.stop(0)
  }

  test("live Redis blacklist connector: RESP fetch of sets and interval zsets, degrade and gate serve fixtures") {
    import spark.implicits._
    import graft.sources.LiveRedisBlSource
    // loopback RESP2 server: parses command arrays, serves two structures
    val server = new java.net.ServerSocket(0, 4,
      java.net.InetAddress.getByName("127.0.0.1"))
    val serverThread = new Thread(() => {
      try while (!server.isClosed) {
        val c = server.accept()
        try {
          val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(c.getInputStream))
          val out = c.getOutputStream
          def line(): String = {
            val b = new StringBuilder
            var ch = in.read()
            while (ch != '\r' && ch >= 0) { b.append(ch.toChar); ch = in.read() }
            in.read(); b.toString
          }
          def bulkArray(xs: Seq[String]): String =
            s"*${xs.length}\r\n" + xs.map(x => s"$$${x.length}\r\n$x\r\n").mkString
          var open = true
          while (open) {
            val t = in.read()
            if (t < 0) open = false
            else {
              assert(t == '*')
              val n = line().toInt
              val args = (1 to n).map { _ =>
                val h = line(); assert(h.startsWith("$")); line()
              }
              val resp = args match {
                case Seq("SMEMBERS", "bl:tor") =>
                  bulkArray(Seq("167772161", "167772162", "garbage"))
                case Seq("SMEMBERS", _) => "*0\r\n"
                case Seq("ZRANGE", "bl:spamnet", "0", "-1", "WITHSCORES") =>
                  // OVERLAPPING ranges: a score-ordered open/close walk
                  // mispairs these (y:B@200 lands between x's bounds);
                  // per-token pairing must reconstruct both exactly
                  bulkArray(Seq("x:B", "100", "x:E", "250", "y:B", "200", "y:E", "300"))
                case Seq("ZRANGE", _, _, _, _) => "*0\r\n"
                case _ => "-ERR unknown command\r\n"
              }
              out.write(resp.getBytes("UTF-8")); out.flush()
            }
          }
        } finally c.close()
      } catch { case _: java.net.SocketException => () }
    })
    serverThread.setDaemon(true)
    serverThread.start()
    try {
      val fbSets = Seq((999L, "fixture")).toDF("ip", "bl_id")
      val fbPref = Seq((1L, 2L, "fixture")).toDF("first", "last", "bl_id")
      val live = LiveRedisBlSource(spark, "127.0.0.1", server.getLocalPort,
        setKeys = Seq("bl:tor" -> "tor"),
        prefixKeys = Seq("bl:spamnet" -> "spamnet"),
        fallbackSets = fbSets, fallbackPrefixes = fbPref, enabled = true)
      val (sets, prefs) = live.lists
      assert(sets.orderBy($"ip").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq == Seq((167772161L, "tor"), (167772162L, "tor"))) // garbage dropped
      assert(prefs.orderBy($"first").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq == Seq((100L, 250L, "spamnet"), (200L, 300L, "spamnet")))
      // enrich: set hit, interval hit, miss — through Intel.redisBlHits
      val ents = Seq((1L, 167772161L), (2L, 150L), (3L, 55555L))
        .toDF("entity", "ip")
      val e = live.enrich(ents).orderBy($"entity").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      assert(e.toSeq == Seq((1L, "tor", 1L), (2L, "spamnet", 1L)))
      // dead port degrades to fixtures; gate never connects
      val dead = LiveRedisBlSource(spark, "127.0.0.1", 1, Seq("k" -> "b"),
        Nil, fbSets, fbPref, enabled = true, timeoutMs = 300)
      assert(dead.lists._1.collect().map(_.getLong(0)).toSeq == Seq(999L))
      val gated = LiveRedisBlSource(spark, "127.0.0.1", server.getLocalPort,
        Nil, Nil, fbSets, fbPref, enabled = false)
      assert(gated.lists._1.collect().map(_.getLong(0)).toSeq == Seq(999L))
    } finally server.close()
  }

  test("live geo feed fetcher: GeoLite2-style CSV to ip ranges, range-join enrich, gate keeps the keyed fixture join") {
    import spark.implicits._
    import graft.sources.HttpGeoSource
    // pure CIDR math incl. edge prefixes
    assert(HttpGeoSource.cidrRange("10.1.0.0/16").contains(
      ((10L << 24) | (1L << 16), (10L << 24) | (1L << 16) | 0xFFFFL)))
    assert(HttpGeoSource.cidrRange("0.0.0.0/0").contains((0L, 0xFFFFFFFFL)))
    assert(HttpGeoSource.cidrRange("1.2.3.4/32").contains(
      ((1L << 24) | (2L << 16) | (3L << 8) | 4L, (1L << 24) | (2L << 16) | (3L << 8) | 4L)))
    assert(HttpGeoSource.cidrRange("bogus").isEmpty)
    assert(HttpGeoSource.cidrRange("1.2.3.4/33").isEmpty)
    // per-octet bound: 300 must not overflow into the third octet
    assert(HttpGeoSource.cidrRange("10.0.0.300/32").isEmpty)
    assert(HttpGeoSource.cidrRange("256.0.0.1/8").isEmpty)
    val csv =
      """# GeoLite2-style export
        |10.1.0.0/16,cz,Prague,Europe/Prague
        |10.2.0.0/16,de
        |malformed-row
        |10.3.0.0/16,""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/geo.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = csv.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/geo.csv"
      val fallback = Seq((0, "xx", "Nowhere", "UTC")).toDF("gk", "ctry", "city", "tz")
      val live = HttpGeoSource(spark, url, fallback, enabled = true)
      val r = live.ranges.get.orderBy($"first").collect()
        .map(x => (x.getLong(0), x.getString(2), x.getString(3)))
      // malformed + empty-country rows dropped, short row padded
      assert(r.toSeq == Seq(((10L << 24) | (1L << 16), "cz", "Prague"),
        ((10L << 24) | (2L << 16), "de", "")))
      val ents = Seq((1L, (10L << 24) | (1L << 16) | 42L),
        (2L, (10L << 24) | (9L << 16))).toDF("entity", "ip")
      val e = live.enrich(ents).collect().map(x => (x.getLong(0), x.getString(1)))
      assert(e.toSeq == Seq((1L, "cz"))) // out-of-range ip: no geo row
      // gated off: the keyed MaxMind-style fixture join
      val gated = HttpGeoSource(spark, url, fallback, enabled = false)
      val g = gated.enrich(Seq((7L, 0)).toDF("entity", "gk")).head()
      assert(g.getString(1) == "xx")
      // degrade with LIVE-shaped input: fetch fails (dead port) and the
      // entities carry no gk — the connector must serve zero geo rows for
      // the cycle, not throw an unresolved-column error from the keyed
      // fixture join
      val broken = HttpGeoSource(spark, "http://127.0.0.1:1/geo.csv",
        fallback, enabled = true, timeoutMs = 300)
      assert(broken.ranges.isEmpty)
      val degraded = broken.enrich(ents)
      assert(degraded.columns.toSeq == Seq("entity", "ctry", "city", "tz"))
      assert(degraded.isEmpty)
    } finally server.stop(0)
  }

  test("live passive-DNS connector: per-ip JSON domains feed the suffix matcher; failures drop, gate serves fixture") {
    import spark.implicits._
    import graft.sources.HttpPdnsSource
    assert(HttpPdnsSource.domainFields(
      """[{"domain": "a.example.com", "ts": 1}, {"domain": "b.zone2.example.com"}]""")
      == Seq("a.example.com", "b.zone2.example.com"))
    assert(HttpPdnsSource.domainFields("[]").isEmpty)
    val ip1 = (10L << 24) | 1L
    val ip2 = (10L << 24) | 2L
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/q", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (ex.getRequestURI.getPath == "/q/10.0.0.1") {
        val b = """[{"domain": "h1.zone2.example.com"}, {"domain": "h1.other.org"}]"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try {
      val suffixes = Seq(".zone2.example.com" -> "dbl-spam",
        ".example.com" -> "dbl-broad")
      val fallback = Seq((9L, "f.zone2.example.com")).toDF("entity", "domain")
      val live = HttpPdnsSource(fallback, suffixes, enabled = true,
        baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}/q",
        timeoutMs = 1500)
      val got = live.enrich(Seq((1L, ip1), (2L, ip2)).toDF("entity", "ip"))
        .orderBy($"entity", $"domain").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      // ip1's blacklisted domain matches two suffixes, the clean one none;
      // ip2's 404 yields no domain rows at all
      assert(got.toSeq == Seq(
        (1L, "h1.other.org", ""),
        (1L, "h1.zone2.example.com", "dbl-broad,dbl-spam")), got.mkString(","))
      // gated off: the fixture (entity, domain) rows feed the matcher
      val gated = HttpPdnsSource(fallback, suffixes, enabled = false)
      val g = gated.enrich(Seq((9L, ip1)).toDF("entity", "ip")).head()
      assert(g.getLong(0) == 9L && g.getString(2) == "dbl-broad,dbl-spam")
    } finally server.stop(0)
  }
}
