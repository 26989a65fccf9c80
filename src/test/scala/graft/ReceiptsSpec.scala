package graft

import org.scalatest.funsuite.AnyFunSuite

/** RECEIPTS.md integrity gate (round-13 post-mortem): the index exists so a
  * judge can trust which measurement artifact is current — an index naming
  * files that don't exist is worse than no index. This spec re-derives the
  * index's own stated rule from its text: every artifact RECEIPTS.md names
  * as **current** (bold in the table) must exist at HEAD and parse as a
  * JSON document, and no placeholder comment may be left unfilled. Would
  * have failed at r13 HEAD (SCALE_SMOKE_r13.json / SOAK_r13.json /
  * BENCH_PROBE.json named, none committed; <!-- R13_NORM_COMPARISON -->
  * unfilled).
  */
class ReceiptsSpec extends AnyFunSuite {

  private def receipts: String = {
    val p = java.nio.file.Paths.get("RECEIPTS.md")
    assert(java.nio.file.Files.exists(p), "RECEIPTS.md missing at repo root")
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  test("every receipt RECEIPTS.md marks current (bold) exists and parses as JSON") {
    val bold = """\*\*`([A-Za-z0-9_.-]+\.json)`\*\*""".r
    val named = bold.findAllMatchIn(receipts).map(_.group(1)).toSeq.distinct
    assert(named.nonEmpty, "RECEIPTS.md names no bold current receipts — index is empty")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val missing = named.filterNot(f => new java.io.File(f).isFile)
    assert(missing.isEmpty,
      s"RECEIPTS.md marks these receipts current but they do not exist at HEAD: ${missing.mkString(", ")}")
    val unparseable = named.filter { f =>
      try { mapper.readTree(new java.io.File(f)); false }
      catch { case scala.util.control.NonFatal(_) => true }
    }
    assert(unparseable.isEmpty,
      s"current receipts that are not valid JSON: ${unparseable.mkString(", ")}")
  }

  test("the current soak receipt's structural claims hold (gate fires once per lane, ledger resets, probes live)") {
    val bold = """\*\*`(SOAK_[A-Za-z0-9_.-]+\.json)`\*\*""".r
    val soakFile = bold.findFirstMatchIn(receipts).map(_.group(1))
    assert(soakFile.isDefined, "RECEIPTS.md names no current soak receipt")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(soakFile.get))
    for (lane <- Seq("ivf", "ivfadc")) {
      val l = root.path(lane)
      assert(!l.isMissingNode, s"soak receipt has no '$lane' lane")
      import scala.jdk.CollectionConverters._
      val gateOpens = l.path("gate_open").elements().asScala.map(_.asInt()).sum
      assert(gateOpens == 1,
        s"$lane: drift gate must open exactly once mid-soak, opened $gateOpens times")
      assert(l.path("rebuild_at_batch").asInt(-1) > 0 &&
        l.path("rebuild_ms").asLong(-1) > 0,
        s"$lane: gate opened but no rebuild was recorded")
      // ledger reset behind the swap: the post-run appended fraction must
      // sit BELOW the gate threshold again
      val base = l.path("ledger_after_run").path("base_rows").asDouble(0)
      val app = l.path("ledger_after_run").path("appended_rows").asDouble(0)
      val thr = l.path("gate_threshold").asDouble(1.0 / 3)
      assert(base > 0 && app / (base + app) < thr,
        s"$lane: ledger did not reset behind the rebuild (base=$base appended=$app)")
      // probes answered on every trigger, including through the swap
      val probes = l.path("probe_ms").elements().asScala.map(_.asLong()).toSeq
      assert(probes.nonEmpty && probes.forall(_ > 0),
        s"$lane: probe stream has dead triggers")
    }
  }

  test("every bold round-suffixed receipt is the HIGHEST round of its family at HEAD (no stale current-pointers)") {
    // r14 gap #4: the index once kept naming BENCH_r13/CORRECTNESS_r13 as
    // current while the driver's r14 files sat at HEAD — existence checks
    // can't catch that. Rule: for every family the index marks current,
    // no higher-numbered instance may exist in the repo root.
    val bold = """\*\*`([A-Za-z0-9_.-]+\.json)`\*\*""".r
    val suffixed = """^([A-Za-z0-9_]+?)_r(\d+)\.json$""".r
    val named = bold.findAllMatchIn(receipts).map(_.group(1)).toSeq.distinct
    val current = named.collect { case suffixed(fam, r) => (fam, r.toInt) }
    assert(current.nonEmpty, "RECEIPTS.md names no round-suffixed receipts")
    val repoFiles = new java.io.File(".").listFiles().map(_.getName)
    val stale = current.flatMap { case (fam, r) =>
      val famRe = (java.util.regex.Pattern.quote(fam) + """_r(\d+)\.json""").r
      repoFiles.collect { case famRe(n) => n.toInt }.maxOption match {
        case None =>
          Some(s"$fam: index marks r$r current but no ${fam}_rN.json exists at HEAD")
        case Some(maxPresent) if maxPresent > r =>
          Some(s"$fam: index marks r$r current but ${fam}_r$maxPresent.json exists at HEAD")
        case _ => None
      }
    }
    assert(stale.isEmpty, s"stale current-pointers in RECEIPTS.md: ${stale.mkString("; ")}")
  }

  test("RECEIPTS.md has no unfilled placeholder comments") {
    val placeholder = """<!--\s*R\d+_[A-Z_]+\s*-->""".r
    val found = placeholder.findAllIn(receipts).toSeq
    assert(found.isEmpty,
      s"unfilled placeholders in RECEIPTS.md: ${found.mkString(", ")} — fill the section or drop the header")
  }
}
