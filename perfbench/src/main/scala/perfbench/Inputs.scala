package perfbench

import java.io.File
import java.util.SplittableRandom

/** Seeded input generation. Inputs come from the benchmark's own code,
  * never from the program, so a program change cannot alter them, and
  * the generator knows the truth the outputs are checked against. */
object Gen {
  private val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private val agents = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/70.0.3538.77 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_14_5) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/75.0.3770.142 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "curl/7.88.1")
  private val months = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")
  private val methods = Vector("GET", "GET", "GET", "POST", "PUT")

  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + salt)

  def str(r: SplittableRandom, n: Int): String = {
    val b = new StringBuilder(n)
    var i = 0
    while (i < n) { b += alnum.charAt(r.nextInt(alnum.length)); i += 1 }
    b.toString
  }
  private def upper(r: SplittableRandom, n: Int): String =
    Iterator.continually(alnum.charAt(r.nextInt(26))).take(n).mkString
  private def ip(r: SplittableRandom): String =
    s"${1 + r.nextInt(223)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
  private def time25(r: SplittableRandom): String =
    s"${2019 + r.nextInt(4)}-${1 + r.nextInt(12)}-${1 + r.nextInt(28)} " +
      s"${r.nextInt(24)}:${r.nextInt(60)}:${r.nextInt(60)}"
  private def sn(r: SplittableRandom): String =
    s"${upper(r, 4)}-${upper(r, 2)}-${upper(r, 4)}-${upper(r, 4)}"
  private def kv(r: SplittableRandom): String = s"${str(r, 3)}=${str(r, 30)}"
  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.length))

  /** A line of the 25-field benchmark rule's shape (ParserBench.bench25Line). */
  def bench25(r: SplittableRandom, id: Long): String = Seq(
    id.toString, (100 + r.nextInt(900)).toString, time25(r), sn(r), str(r, 50), time25(r),
    kv(r), sn(r), str(r, 50), time25(r), time25(r), ip(r), kv(r), str(r, 50), kv(r), kv(r),
    str(r, 50), kv(r), kv(r), str(r, 50), str(r, 50), ip(r), str(r, 50),
    s"[${pick(r, methods)} /p${r.nextInt(1000)}  HTTP/1.1 ]", "\"" + pick(r, agents) + "\""
  ).mkString(",")

  /** An nginx access-log line (ParserBench.nginxLine's shape). */
  def nginx(r: SplittableRandom): String =
    f"${ip(r)} - - [${1 + r.nextInt(28)}%02d/${pick(r, months)}/${2019 + r.nextInt(4)}:" +
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d +0800] " +
      "\"" + s"${pick(r, methods)} /static/${str(r, 8)}.png HTTP/1.1" + "\" " +
      s"${pick(r, Vector(200, 200, 200, 304, 404))} ${r.nextInt(100000)} " +
      "\"" + s"http://${ip(r)}/" + "\" \"" + pick(r, agents) + "\" \"-\""

  val statuses = Vector(200, 200, 200, 200, 201, 301, 404, 500, 503)
  def isHigh(st: Int): Boolean = st >= 500
  val zoneRows = 200

  /** A short kvarr line. */
  def kvLine(r: SplittableRandom, st: Int, zid: Int): String =
    s"uid=u${r.nextInt(5000)} st=$st zid=$zid op=${pick(r, Vector("read", "write", "del"))} " +
      s"bytes=${r.nextInt(100000)}"
  /** ~10 % of zone keys are absent from the knowledge table. */
  def zid(r: SplittableRandom): Int =
    if (r.nextDouble() < 0.1) zoneRows + r.nextInt(zoneRows) else r.nextInt(zoneRows)
  /** A line no rule of the kv package accepts. */
  def malformed(r: SplittableRandom): String = s"%%% ${str(r, 8)} ### ${str(r, 6)} %%%"

  def zoneCsv(r: SplittableRandom): String =
    ("id,name,region" +: (0 until zoneRows).map(i =>
      s"$i,zone-$i-${str(r, 4)},${pick(r, Vector("north", "south", "east", "west"))}"))
      .mkString("", "\n", "\n")
}

/** Writes a wp-proj instance directory: engine config, one file source,
  * file sinks through one connector, optional knowledge table. */
object ProjectLayout {
  final case class SinkDef(name: String, file: String, fmt: String, filter: Option[String] = None)
  final case class Group(name: String, oml: Seq[String], rule: Seq[String], sinks: Seq[SinkDef])

  val parseWpl: String =
    """package /bench {
      |  rule b25 {
      |    (digit:id,digit:len,time,sn,chars:dev_name,time,kv,sn,chars:dev_name,time,time,ip,kv,chars,kv,kv,chars,kv,kv,chars,chars,ip,chars,http/request<[,]>,http/agent")\,
      |  }
      |  rule nginx {
      |    (ip:sip,2*_,time:recv_time<[,]>,http/request",http/status,digit,chars",http/agent",_")
      |  }
      |}
      |""".stripMargin

  val kvWpl: String = "package /kv { rule kv { (kvarr) } }\n"

  val enrichOml: String =
    """name : enrich
      |rule : /kv/*
      |---
      |uid : chars = take(option:[uid]) ;
      |st : digit = take(option:[st]) ;
      |level = match read(st) {
      |  digit(500) | digit(503) => chars(high) ;
      |  _ => chars(low) ;
      |} ;
      |zone_name = select name from zone where id = read(zid) ;
      |msg = fmt("{}:{}", @uid, read(st)) ;
      |* = take() ;
      |""".stripMargin

  private def quoted(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ", ", "]")

  def write(root: File, wpl: String, oml: Option[String], sourceDir: String,
            business: Seq[Group], infra: Seq[(String, SinkDef)], zoneCsv: Option[String]): Unit = {
    Files2.write(new File(root, "conf/wparse.toml"),
      """version = "1.0"
        |[models]
        |wpl = "./wpl"
        |oml = "./oml"
        |[topology]
        |sources = "./topology/sources"
        |sinks = "./topology/sinks"
        |""".stripMargin)
    Files2.write(new File(root, "wpl/parse.wpl"), wpl)
    new File(root, "oml").mkdirs()
    oml.foreach(m => Files2.write(new File(root, "oml/model.oml"), m))
    Files2.write(new File(root, "topology/sources/wpsrc.toml"),
      s"""[[source_file]]
         |key = "file_1"
         |path = "$sourceDir"
         |enable = true
         |encode = "text"
         |""".stripMargin)
    Files2.write(new File(root, "connectors/sink.d/00-file.toml"),
      """[[connectors]]
        |id = "file_sink"
        |type = "file"
        |allow_override = ["base", "file", "fmt"]
        |[connectors.params]
        |base = "./out"
        |file = "default.dat"
        |fmt = "json"
        |""".stripMargin)
    def sinkToml(s: SinkDef): String =
      s"""
         |[[sink_group.sinks]]
         |name = "${s.name}"
         |use = "file_sink"
         |params = { file = "${s.file}", fmt = "${s.fmt}" }
         |""".stripMargin + s.filter.map(f => s"filter = \"$f\"\n").getOrElse("")
    business.foreach { g =>
      Files2.write(new File(root, s"topology/sinks/business.d/${g.name}.toml"),
        s"""version = "2.0"
           |[sink_group]
           |name = "${g.name}"
           |oml = ${quoted(g.oml)}
           |rule = ${quoted(g.rule)}
           |""".stripMargin + g.sinks.map(sinkToml).mkString)
    }
    infra.foreach { case (group, s) =>
      Files2.write(new File(root, s"topology/sinks/infra.d/$group.toml"),
        s"""version = "2.0"
           |[sink_group]
           |name = "$group"
           |""".stripMargin + sinkToml(s))
    }
    zoneCsv.foreach { csv =>
      val kb = new File(root, "models/knowledge")
      Files2.write(new File(kb, "knowdb.toml"),
        "version = 2\n[[tables]]\nname = \"zone\"\n")
      Files2.write(new File(kb, "zone/create.sql"), "CREATE TABLE {table} (id, name, region);\n")
      Files2.write(new File(kb, "zone/insert.sql"), "INSERT INTO {table} VALUES (?1, ?2, ?3);\n")
      Files2.write(new File(kb, "zone/data.csv"), csv)
    }
  }

  /** The kv + enrich project shared by batch_enrich and daemon_kv: two
    * business sinks (one filtered, feeding `intercept`) and the
    * default/miss/intercept infra sinks. */
  def enrich(root: File, sourceDir: String, zoneCsv: String): Unit =
    write(root, kvWpl, Some(enrichOml), sourceDir,
      Seq(Group("enrich", Seq("enrich"), Seq.empty, Seq(
        SinkDef("all", "enrich_all.dat", "json"),
        SinkDef("normal", "enrich_normal.dat", "kv", Some("$level == chars(low)"))))),
      Seq("default" -> SinkDef("default", "default.dat", "json"),
        "miss" -> SinkDef("miss", "miss.dat", "raw"),
        "intercept" -> SinkDef("intercept", "intercept.dat", "kv")),
      Some(zoneCsv))
}
