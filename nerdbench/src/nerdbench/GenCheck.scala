package nerdbench

import java.io.File
import java.security.MessageDigest

import graft.ingest.WardenFilter
import graft.streaming.StreamIngest

/** Benchmark-local test of the alert generator: the same seed writes the
  * same files, and the late, future and filtered counts the program sees
  * (through `StreamIngest.validate` and `WardenFilter`) are the ones the
  * generator declared. Exits non-zero on any mismatch.
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val root = opts("work")
    val spark = Main.session(2, root)
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def digest(path: String): String = {
      val md = MessageDigest.getInstance("SHA-256")
      md.update(java.nio.file.Files.readAllBytes(new File(path).toPath))
      md.digest().map("%02x".format(_)).mkString
    }
    def generate(s: Long): Seq[AlertFile] = {
      val gen = new Gen(s, 20000)
      Seq(gen.file(0, 3000, recentSecs = 30L * 86400, eventIdBase = 0L),
        gen.file(1, 2000, recentSecs = 6L * 3600, eventIdBase = 1000000L))
    }
    val a = generate(seed)
    val pa = Env.writeAlertFiles(spark, a, s"$root/a")
    val pb = Env.writeAlertFiles(spark, generate(seed), s"$root/b")
    expect(pa.map(digest) == pb.map(digest), "same seed, byte-identical files")
    expect(generate(seed + 1).map(_.alerts) != a.map(_.alerts), "another seed, other alerts")
    a.zip(pa).foreach { case (f, path) =>
      val ev = Env.readEvents(spark, Seq(path))
      val n = ev.count()
      val valid = StreamIngest.validate(ev, Gen.NowEpoch, 7).count()
      val future = ev.filter(s"unix_timestamp(ts) > ${Gen.NowEpoch + 300}").count()
      val passed = WardenFilter(ev, Gen.FilterRules).count()
      val name = new File(path).getName
      expect(n == f.alerts.size, s"$name: ${f.alerts.size} alerts")
      expect(future == f.future, s"$name: future ${f.future} (program sees $future)")
      expect(n - valid - future == f.late, s"$name: late ${f.late} (program sees ${n - valid - future})")
      expect(n - passed == f.filtered, s"$name: filtered ${f.filtered} (program sees ${n - passed})")
      expect(f.alerts.count(!Gen.passesFilter(_)) == f.filtered, s"$name: reference filter agrees")
      expect(f.alerts.count(_.userId == f.marker) == f.markerAlerts && f.markerAlerts > 0,
        s"$name: marker ${f.marker} has ${f.markerAlerts} alerts")
    }
    spark.stop()
    println(s"selftest: ${if (failures == 0) "passed" else s"$failures failed"}")
    if (failures > 0) sys.exit(1)
  }
}
