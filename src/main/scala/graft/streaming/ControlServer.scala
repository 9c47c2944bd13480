package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.collection.concurrent.TrieMap

/** REST control shim for replay sources — parity with the reference's
  * streamtester control API (trigger/streamtester/tester.go:63-74):
  * POST /tester/start | stop | pause | resume | reload, globally, for
  * one named source via the reference's path-param form
  * (/tester/pause/:id — tester.go:69-74), or via ?name= (kept for
  * compatibility with earlier graft clients; the path param wins when
  * both appear). Built on the JDK's HttpServer via [[HttpEndpoint]]
  * (no extra dependencies); GET /tester/status reports each source's
  * state and GET /tester/columns its dataset's column names (the
  * reference's getColumnNames output).
  *
  * Sources register either explicitly ([[register]]) or straight from
  * a loaded app definition ([[registerFrom]] — one replay source per
  * streamtester trigger handler, the reference's per-handler emitter
  * construction, tester.go:52-60).
  */
class ControlServer(port: Int) {

  private val sources = TrieMap.empty[String, CsvReplay]
  private var server: HttpServer = _

  def register(name: String, replay: CsvReplay): Unit =
    sources.put(name, replay)

  /** Build and register one [[CsvReplay]] per streamtester trigger
    * handler of `app`, honoring the reference's handler settings
    * (filePath required; emitDelay / replayData / allDataAtOnce
    * optional — trigger/streamtester/metadata.go:9-16). Returns the
    * registered names in definition order; look sources up with
    * [[source]] to attach their streams to pipelines. */
  def registerFrom(app: graft.engine.Dsl.AppDef)
                  (implicit spark: org.apache.spark.sql.SparkSession)
      : Seq[String] = {
    val handlers = app.triggers
      .filter(_.ref.toLowerCase.contains("streamtester"))
      .flatMap(_.handlers)
    // duplicate names would silently overwrite each other in the
    // registry while the returned list claims both registered — the
    // reference's getEmitter has the same first-match ambiguity, but
    // failing fast beats inheriting it
    val dup = handlers.groupBy(_.name).collect { case (n, hs) if hs.size > 1 => n }
    require(dup.isEmpty,
      s"streamtester handler names must be unique, duplicated: " +
        dup.mkString(", "))
    // ... and the same fail-fast against sources ALREADY registered via
    // register(): a colliding handler would silently overwrite the live
    // source in the registry while the returned list claims a fresh
    // registration
    val taken = handlers.map(_.name).filter(sources.contains)
    require(taken.isEmpty,
      s"streamtester handler names collide with already-registered " +
        s"sources: " + taken.mkString(", "))
    handlers.map { h =>
      val s = h.settings
      require(s.contains("filePath"),
        s"streamtester handler '${h.name}' has no filePath setting")
      // graft pipelines are schema'd, so rows are ALWAYS map-shaped
      // (the reference's dataAsMap=true); an explicit dataAsMap=false
      // (positional arrays) cannot be honored and must fail loudly
      // instead of silently changing shape — and an UNPARSEABLE value
      // gets the same descriptive failure, not a bare toBoolean throw.
      // getColumnNames parity is served by GET /tester/columns (and
      // the CsvReplay.columnNames accessor for JVM callers).
      s.get("dataAsMap").foreach { v =>
        val parsed = v.trim.toLowerCase match {
          case "true" | "1" | "yes"  => Some(true)
          case "false" | "0" | "no"  => Some(false)
          case _                     => None
        }
        require(parsed.contains(true),
          s"streamtester handler '${h.name}': dataAsMap='$v' is " +
            "unsupported — graft pipelines are schema'd and rows are " +
            "always map-shaped (only dataAsMap=true can be honored)")
      }
      // settings come from untrusted app JSON: name the handler and the
      // setting in the failure instead of surfacing a context-free
      // NumberFormatException / IllegalArgumentException from a bare
      // .toLong/.toBoolean
      def longSetting(key: String, default: Long): Long =
        s.get(key).map { v =>
          v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"streamtester handler '${h.name}': $key='$v' is not a " +
              "valid integer"))
        }.getOrElse(default)
      def boolSetting(key: String): Boolean =
        s.get(key).exists { v =>
          v.trim.toBooleanOption.getOrElse(throw new IllegalArgumentException(
            s"streamtester handler '${h.name}': $key='$v' is not a " +
              "valid boolean"))
        }
      val replay = new CsvReplay(
        path = s("filePath"),
        emitDelayMs = longSetting("emitDelay", 100L),
        replayData = boolSetting("replayData"),
        allDataAtOnce = boolSetting("allDataAtOnce"))
      register(h.name, replay)
      h.name
    }
  }

  /** The registered replay source of `name`, if any. */
  def source(name: String): Option[CsvReplay] = sources.get(name)

  def start(): Int = {
    server = HttpEndpoint.serve(port, "/tester" -> handle)
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def handle(ex: HttpExchange): (Int, String) = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/tester").stripPrefix("/")
    // the reference's path-param form: /tester/<action>/<id>
    // (tester.go:69-74); everything after the first segment is the id.
    // An EMPTY id (trailing slash) stays Some("") on purpose: it must
    // 404 as an unknown source, not silently broadcast the action to
    // every registered source.
    val (path, pathName) = rest.indexOf('/') match {
      case -1 => (rest, None)
      case i  => (rest.substring(0, i),
        Some(java.net.URLDecoder.decode(rest.substring(i + 1), "UTF-8")))
    }
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val name = pathName.orElse(query.split("&").collectFirst {
      case kv if kv.startsWith("name=") =>
        java.net.URLDecoder.decode(kv.stripPrefix("name="), "UTF-8")
    })
    val targets = name match {
      case Some(n) => sources.get(n).map(n -> _).toSeq
      case None    => sources.toSeq
    }
    path match {
      case _ if name.isDefined && targets.isEmpty =>
        (404, s"""{"error": "unknown source: ${esc(name.get)}"}""")
      case "start"  => targets.foreach(_._2.start()); ok(targets)
      case "stop"   => targets.foreach(_._2.stop()); ok(targets)
      case "pause"  => targets.foreach(_._2.pause()); ok(targets)
      case "resume" => targets.foreach(_._2.resume()); ok(targets)
      case "reload" => targets.foreach(_._2.reload()); ok(targets)
      case "status" => ok(targets)
      // the reference's getColumnNames output surfaced over REST, per
      // source: {"name": ["col", ...]}
      case "columns" =>
        (200, targets.map { case (n, r) =>
          s""""${esc(n)}": [${r.columnNames
            .map(c => "\"" + esc(c) + "\"").mkString(", ")}]"""
        }.mkString("{", ",", "}"))
      case other    => (404, s"""{"error": "unknown action: $other"}""")
    }
  }

  private def ok(targets: Seq[(String, CsvReplay)]): (Int, String) =
    (200, targets.map { case (n, r) =>
      s""""${esc(n)}": {"running": ${r.isRunning}}"""
    }.mkString("{", ",", "}"))

  /** JSON string escape for interpolated (possibly user-supplied) names. */
  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
