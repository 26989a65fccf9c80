package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.EdgeCodec
import graft.ops.{TaskCodec, UpdateAlgebra}

/** The two application-edge wire codecs (SURVEY §2.9 boundary items):
  * the task-queue `$datetime`/`$timedelta` JSON envelope
  * (`common/task_queue.py:84–113`) and the bulk-reputation binary
  * IP/double format (`NERDweb/nerd_main.py:2427–2468`).
  */
class EdgeCodecSpec extends AnyFunSuite {

  private def forAllSamples[A](gen: scala.util.Random => A, n: Int = 200)(body: A => Unit): Unit = {
    val r = new scala.util.Random(42)
    (1 to n).foreach(_ => body(gen(r)))
  }

  test("$datetime envelope roundtrips through the reference format") {
    val s = "2024-03-01T12:34:56.789012"
    val micros = EdgeCodec.parseDatetime(s)
    assert(EdgeCodec.renderDatetime(micros) == s)
    // epoch check: 2024-03-01T12:34:56 UTC = 1709296496
    assert(micros == 1709296496L * 1000000L + 789012L)
  }

  test("$timedelta envelope matches Python's normalized days,seconds,micros") {
    // timedelta(2, 3600, 42) -> "2,3600,42"
    assert(EdgeCodec.parseTimedelta("2,3600,42") ==
      (2L * 86400 + 3600) * 1000000L + 42L)
    assert(EdgeCodec.renderTimedelta((2L * 86400 + 3600) * 1000000L + 42L) == "2,3600,42")
    // negative durations normalize like Python: -1 microsecond =
    // timedelta(-1, 86399, 999999)
    assert(EdgeCodec.renderTimedelta(-1L) == "-1,86399,999999")
  }

  test("datetime/timedelta micros roundtrip (property)") {
    forAllSamples(r => math.abs(r.nextLong()) % (4102444800L * 1000000L)) { us =>
      assert(EdgeCodec.parseDatetime(EdgeCodec.renderDatetime(us)) == us)
    }
    forAllSamples(r => r.nextLong() % (1000L * 86400 * 1000000L)) { us =>
      assert(EdgeCodec.parseTimedelta(EdgeCodec.renderTimedelta(us)) == us)
    }
  }

  test("enveloped wire tasks parse: $datetime values become micros numbers") {
    val ops = TaskCodec.parseExternal(
      """[["set","ts_added",{"$datetime":"2024-03-01T12:34:56.000000"}],
        |["set","ttl",{"$timedelta":"14,0,0"}]]""".stripMargin)
    assert(ops == Seq(
      UpdateAlgebra.SetVal("ts_added", 1709296496L * 1000000L, weak = false),
      UpdateAlgebra.SetVal("ttl", 14L * 86400 * 1000000L, weak = false)))
  }

  test("bulk binary IPs: big-endian 4-byte unpack like struct.unpack('!I')") {
    // 1.2.3.4 = 0x01020304, 255.255.255.255 = 0xffffffff
    val payload = Array[Byte](1, 2, 3, 4, -1, -1, -1, -1)
    assert(EdgeCodec.unpackIps(payload).toSeq == Seq(0x01020304L, 0xffffffffL))
    assert(EdgeCodec.packIps(Array(0x01020304L, 0xffffffffL)).toSeq == payload.toSeq)
  }

  test("bulk binary doubles roundtrip (property, incl. the rounded-rep shape)") {
    forAllSamples(r => Array.fill(r.nextInt(20))(math.rint(r.nextDouble() * 10000) / 10000)) { arr =>
      assert(EdgeCodec.unpackDoubles(EdgeCodec.packDoubles(arr)).toSeq == arr.toSeq)
    }
  }

  test("bulk endpoint end-to-end: binary IPs in, ordered packed reps out") {
    val spark = GraftSession.local(4)
    import spark.implicits._
    val snapshot = Seq((10L, 0.25), (20L, 0.5)).toDF("entity", "rep")
    // request: 20, 99 (unknown), 10 — response order must follow the request
    val payload = EdgeCodec.packIps(Array(20L, 99L, 10L))
    val resp = graft.query.Search.bulkRepBinary(snapshot, payload)
    assert(EdgeCodec.unpackDoubles(resp).toSeq == Seq(0.5, 0.0, 0.25))
  }

  test("ip roundtrip (property)") {
    forAllSamples(r => math.abs(r.nextLong()) % 0x100000000L) { ip =>
      assert(EdgeCodec.unpackIps(EdgeCodec.packIps(Array(ip))).head == ip)
    }
  }
}
