package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.derive.{ThreatCategorize, ThreatConfig}

/** Case class for the classifiable-event fixture (top-level: Spark encoders
  * reject private/nested case classes).
  */
case class ClsEvent(ip_info: String, description: String,
                    categories: Seq[String], tags: Seq[String])

/** Threat-categorization CONFIG compiler, exercised on the documented
  * examples of the reference config (`etc/threat_categorization.yml` —
  * grammar doc at lines 27–50, scan/login categories at 52–120).
  */
class ThreatConfigSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  // A faithful subset of the reference config (same categories, same
  // trigger lines, same yml shape incl. comments and block scalars).
  private val refYml =
    """# Threat categorization
      |threat_categories:
      |  unknown:
      |    role: src
      |    label: Unknown
      |    color: "#cccccc"
      |
      |  scan:
      |    role: src
      |    label: Scanning
      |    color: "#aaffff"
      |    subcategories:
      |      - port
      |    triggers:
      |      general: |-
      |        bool(re.findall(r'(?i)scanning|scanner|probing', event.ip_info + event.description))
      |      warden_receiver: |-
      |        'Recon.Scanning' in event.categories
      |      misp_receiver: |-
      |        any([bool(re.findall(r'(?i)scanning|scanner|probing', tag)) for tag in event.tags])
      |      blacklists: |-
      |        event.description == 'echelon_port_scan'
      |        event.description == 'echelon_sip_register_scanner' -> {'port': [5060]}
      |
      |  login:
      |    role: src
      |    subcategories:
      |      - protocol
      |      - port
      |    triggers:
      |      general: |-
      |        bool(re.findall(r'(?i)ssh.*(brute[\s_-]?force|login|intrusion|honeypot)', event.ip_info + event.description)) -> {'protocol': ['ssh']}
      |        bool(re.findall(r'(?i)rdp.*(brute[\s_-]?force|login|intrusion|honeypot)', event.ip_info + event.description)) -> {'protocol': ['rdp']}
      |      warden_receiver: |-
      |        'Attempt.Login' in event.categories
      |""".stripMargin

  test("yml subset parser recovers categories, roles, subcategories, triggers") {
    val cats = ThreatConfig.parseYml(refYml)
    assert(cats.map(_.id) == Seq("unknown", "scan", "login"))
    val scan = cats.find(_.id == "scan").get
    assert(scan.role == "src")
    assert(scan.subcategories == Seq("port"))
    assert(scan.triggers("general").size == 1)
    assert(scan.triggers("blacklists").size == 2)
    assert(scan.triggers("blacklists")(1).contains("-> {'port': [5060]}"))
    val login = cats.find(_.id == "login").get
    assert(login.subcategories == Seq("protocol", "port"))
    assert(login.triggers("general").size == 2)
    assert(cats.find(_.id == "unknown").get.triggers.isEmpty)
  }

  test("trigger idioms compile to the reference semantics") {
    import spark.implicits._
    val df = Seq(
      ClsEvent("", "Scanning of TCP ports", Nil, Nil),                  // regex via concat
      ClsEvent("ssh brute-force honeypot hit", "", Nil, Nil),           // payload regex
      ClsEvent("", "", Seq("Recon.Scanning"), Nil),                     // membership
      ClsEvent("", "", Nil, Seq("misc", "Port SCANNER")),               // any-comprehension
      ClsEvent("", "echelon_sip_register_scanner", Nil, Nil),           // eq + payload
      ClsEvent("benign", "nothing here", Nil, Nil)
    ).toDF()

    val cats = ThreatConfig.compile(refYml, df.schema,
      modules = Seq("warden_receiver", "misp_receiver", "blacklists"))
    val scan = cats.find(_.id == "scan").get
    val login = cats.find(_.id == "login").get

    val got = df.select(
      scan.rule.trigger.as("scan"),
      login.rule.trigger.as("login"),
      login.payloadFor("protocol").as("proto"),
      scan.payloadFor("port").as("port"))
      .collect()

    assert(got(0).getBoolean(0) && !got(0).getBoolean(1))       // Scanning text
    assert(!got(1).getBoolean(0) && got(1).getBoolean(1))       // ssh brute-force
    assert(got(1).getSeq[String](2) == Seq("ssh"))              // first-match payload
    assert(got(2).getBoolean(0))                                // warden category
    assert(got(3).getBoolean(0))                                // misp tag regex (case-insensitive)
    assert(got(4).getBoolean(0))                                // blacklist eq
    assert(got(4).getSeq[String](3) == Seq("5060"))             // eq-line payload
    assert(!got(5).getBoolean(0) && !got(5).getBoolean(1))      // benign row
    assert(got(5).isNullAt(2))                                  // no payload when no match
  }

  test("missing event attribute behaves like Python None (no match, no error)") {
    import spark.implicits._
    // schema lacks indicator_role and tags entirely
    val df = Seq(("x", "y")).toDF("ip_info", "description")
    val t1 = ThreatConfig.compileTrigger(
      "bool(re.findall(r'(?i)scanning', event.indicator_role))", df.schema)
    val t2 = ThreatConfig.compileTrigger(
      "any([bool(re.findall(r'(?i)scanning', tag)) for tag in event.tags])", df.schema)
    val r = df.select(t1.cond.as("a"), t2.cond.as("b")).head()
    assert(!r.getBoolean(0) && !r.getBoolean(1))
  }

  test("malware_family matching uses match_str simplification") {
    import spark.implicits._
    // match_str ignores case, '_', '.', '-' and outer whitespace — NOT
    // interior spaces (threat_categorization.py:187–195)
    val fams = Seq("Win32.Emotet" -> " E.mo-TET ", "Mirai" -> "MIRAI")
    val df = Seq("Botnet drop: emotet c2;comment", "mirai variant;", "clean;").toDF("text")
    val got = df.select(ThreatConfig.malwareFamilyIds(col("text"), fams).as("f"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("win32.emotet"))
    assert(got(1) == Seq("mirai"))
    assert(got(2).isEmpty)
  }

  test("config-compiled rules drive classify with the unknown fallback") {
    import spark.implicits._
    val yml =
      """threat_categories:
        |  scan:
        |    role: src
        |    triggers:
        |      general: |-
        |        event.event_type == 'error' and event.k >= 50
        |  abuse:
        |    role: dst
        |    triggers:
        |      general: |-
        |        event.event_type == 'signup'
        |        event.event_type == 'login'
        |""".stripMargin
    val df = Seq(
      ("error", 60L), ("error", 10L), ("signup", 0L), ("purchase", 0L)
    ).toDF("event_type", "k")
    val rules = ThreatConfig.catRules(yml, df.schema)
    assert(rules.map(_.id) == Seq("scan", "abuse"))
    val got = ThreatCategorize.classify(df, rules)
      .select(col("event_type"), col("k"), col("category"), col("role"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.contains(("error", 60L, "scan", "src")))
    assert(got.contains(("error", 10L, "unknown", "src")))   // k below threshold
    assert(got.contains(("signup", 0L, "abuse", "dst")))
    assert(got.contains(("purchase", 0L, "unknown", "src"))) // fallback
  }
}
