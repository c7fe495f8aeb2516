package graft.server

import java.io.{BufferedReader, PrintStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operator SQL REPL — the reference CLI's `sql` command
  * (src/commands/sql.rs, sql/repl.rs, sql/repl_command.rs,
  * sql/observer.rs) as a client of the HTTP facade: command grammar,
  * help text shape, multi-line `;`-terminated statements, per-database
  * remote queries, output formats, and OBSERVER mode (local unified
  * views of every database's system tables, `database_name` prepended —
  * observer.rs:98-146) are all ported; rustyline history and the gRPC
  * transport are not (plain stdin + the HTTP query endpoint carry the
  * same function).
  *
  * Usage: runMain graft.server.SqlRepl --url http://127.0.0.1:<port>
  */
object SqlRepl {

  sealed trait ReplCommand
  object ReplCommand {
    case object Help extends ReplCommand
    case object Observer extends ReplCommand
    case object ShowDatabases extends ReplCommand
    final case class UseDatabase(dbName: String) extends ReplCommand
    final case class SqlCommand(sql: String) extends ReplCommand
    case object Exit extends ReplCommand
    final case class SetFormat(format: String) extends ReplCommand

    /** Port of repl_command.rs try_into: tokenize on whitespace with the
      * trailing `;` chopped, match LOWERCASED tokens, but carry the
      * ORIGINAL case in operands (db names are case-sensitive); anything
      * unrecognized is SQL verbatim. */
    def parse(line: String): Either[String, ReplCommand] = {
      if (line.trim.isEmpty) return Left("No command specified")
      val noSemi = {
        val t = line.trim
        if (t.endsWith(";")) t.dropRight(1) else line
      }
      val raw = noSemi.split("\\s+").map(_.trim).filter(_.nonEmpty).toSeq
      val cmds = raw.map(_.toLowerCase(java.util.Locale.ROOT))
      cmds match {
        case Seq("help") => Right(Help)
        case Seq("help", _*) => Right(Help) // extra tokens ignored, like the reference
        case Seq("observer") => Right(Observer)
        case Seq("exit") | Seq("quit") => Right(Exit)
        case Seq("use", "database") =>
          Left("name not specified. Usage: USE DATABASE <name>")
        case Seq("use", "database", _) => Right(UseDatabase(raw(2)))
        case Seq("use", _) => Right(UseDatabase(raw(1)))
        case Seq("show", "databases") => Right(ShowDatabases)
        case Seq("set", "format", _) => Right(SetFormat(raw(2)))
        case _ => Right(SqlCommand(line))
      }
    }

    /** repl_command.rs ReplCommand::help(), the command section. */
    val helpText: String =
      """
Available commands (not case sensitive):
HELP (this one)

SHOW DATABASES: List databases available on the server

USE [DATABASE] <name>: Set the current remote database to name

SET FORMAT <format>: Set the output format to Pretty, csv or json

OBSERVER: Locally query unified queryable views of remote system tables

[EXIT | QUIT]: Quit this session and exit the program
"""
  }

  /** Observer mode's local engine state: the system tables of every
    * database fetched through the facade and registered as unified temp
    * views (`system_chunks` etc., `database_name` prepended). */
  private final case class ObserverState(spark: SparkSession)

  /** One REPL instance. `spark` is only touched when OBSERVER mode is
    * entered (the remote path never needs a local engine). Output goes to
    * `out` so a spec can drive the whole loop headlessly. */
  final class Repl(baseUrl: String, out: PrintStream,
      spark: () => SparkSession) {
    private val base = baseUrl.stripSuffix("/")
    private var engine: Option[Either[String, ObserverState]] = None // Left=db
    private var format: String = "pretty"
    private[server] def prompt: String = engine match {
      case Some(Left(db)) => s"$db> "
      case Some(Right(_)) => "observer> "
      case None => "> "
    }

    private def httpGet(path: String): (Int, String) = {
      val conn = new URI(s"$base$path").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
      conn.disconnect()
      (status, body)
    }

    private def enc(s: String) = HttpFacade.urlEnc(s)

    /** The server's databases, from the database-less 1.x
      * `SHOW DATABASES`: every string after the series' `"values"` key
      * (none when the series is empty). */
    private def dbNames(): Seq[String] = {
      val (status, body) = httpGet(s"/query?q=${enc("SHOW DATABASES")}")
      if (status != 200 || body.contains("\"error\":"))
        sys.error(s"listing databases failed: $status $body")
      val values = body.indexOf("\"values\":")
      if (values < 0) Nil
      else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(
        body.substring(values + "\"values\":".length)).map(_.group(1)).toSeq
    }

    /** Execute one parsed command; false means exit. */
    def handle(cmd: ReplCommand): Boolean = cmd match {
      case ReplCommand.Help => out.print(ReplCommand.helpText); true
      case ReplCommand.Exit => false
      case ReplCommand.SetFormat(f) =>
        val norm = f.toLowerCase(java.util.Locale.ROOT)
        if (Set("pretty", "csv", "json").contains(norm)) format = norm
        else out.println(s"Error setting format to '$f': Unknown format " +
          s"type: $f. Expected one of 'pretty', 'csv' or 'json'")
        true
      case ReplCommand.UseDatabase(db) =>
        engine = Some(Left(db)) // validated lazily by the first query, like the reference
        true
      case ReplCommand.ShowDatabases =>
        try {
          val names = dbNames()
          // one-column result rendered in the current format, like the
          // reference's db_name record batch
          val rows = names.map(n => Seq("db_name" -> n))
          format match {
            case "csv" => out.println(("db_name" +: names).mkString("\n"))
            case "json" => out.println(
              names.map(n => s"""{"db_name":${jsonStr(n)}}""")
                .mkString("[", ",", "]"))
            case _ =>
              val w = ("db_name" +: names).map(_.length).max
              val sep = "+-" + "-" * w + "-+"
              out.println((Seq(sep, "| " + "db_name".padTo(w, ' ') + " |", sep)
                ++ names.map(n => "| " + n.padTo(w, ' ') + " |") :+ sep)
                .mkString("\n"))
          }
          val _ = rows
        } catch { case scala.util.control.NonFatal(e) =>
          out.println(e.getMessage) }
        true
      case ReplCommand.Observer =>
        try {
          out.println("Preparing local views of remote system tables")
          engine = Some(Right(buildObserver()))
        } catch { case scala.util.control.NonFatal(e) =>
          out.println(s"Error loading observer state: ${e.getMessage}") }
        true
      case ReplCommand.SqlCommand(sql) =>
        engine match {
          case None =>
            out.println("Error: no database selected.")
            out.println("Hint: Run USE DATABASE <dbname> to select database")
          case Some(Left(db)) => runRemote(db, sql)
          case Some(Right(obs)) => runObserver(obs, sql)
        }
        true
    }

    private def runRemote(db: String, sql: String): Unit = {
      val t0 = System.nanoTime()
      val (status, body) = httpGet(
        s"/iox/api/v1/databases/${enc(db)}/query?q=${enc(sql)}&format=${enc(format)}")
      if (status != 200) { out.println(s"Error running remote query: $body"); return }
      out.println(body.stripLineEnd)
      out.println(f"Returned ${rowSummary(body)} in " +
        f"${(System.nanoTime() - t0) / 1e6}%.1fms")
    }

    private def runObserver(obs: ObserverState, sql: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val df = obs.spark.sql(sql)
        val rendered = HttpFacade.renderResult(df, format)
        out.println(rendered.stripLineEnd)
        out.println(f"Returned in ${(System.nanoTime() - t0) / 1e6}%.1fms")
      } catch { case scala.util.control.NonFatal(e) =>
        out.println(s"Error running observer query: ${e.getMessage}") }
    }

    /** Rough row count for the "Returned N rows" line: exact for csv
      * (lines minus header) and json (top-level objects); pretty infers
      * from the table frame. */
    private def rowSummary(body: String): String = {
      val n = format match {
        case "csv" => (body.trim.split("\n").length - 1).max(0)
        case "json" =>
          if (body.trim == "[]") 0
          else body.sliding(2).count(_ == "},") + (if (body.trim.length > 2) 1 else 0)
        case _ => (body.trim.split("\n").length - 4).max(0)
      }
      if (n == 1) "1 row" else s"$n rows"
    }

    /** observer.rs:98-146: for every database, `select * from
      * system.<t>` for chunks / chunk_columns / columns / operations;
      * union per table with a `database_name` column prepended; register
      * as local views queryable by plain SQL. */
    private def buildObserver(): ObserverState = {
      val s = spark()
      import s.implicits._
      val tables = Seq("chunks", "chunk_columns", "columns", "operations")
      val byTable = tables.map { t =>
        val per = dbNames().flatMap { db =>
          val (status, body) = httpGet(
            s"/iox/api/v1/databases/${enc(db)}/query?" +
              s"q=${enc(s"SELECT * FROM system_$t")}&format=json")
          if (status != 200 || body.trim == "[]") None
          else Some(s.read.json(s.createDataset(Seq(body)))
            .select(lit(db).as("database_name"), col("*")))
        }
        t -> per
      }
      byTable.foreach { case (t, dfs) =>
        val df: DataFrame =
          if (dfs.isEmpty) s.emptyDataFrame.withColumn("database_name", lit(""))
          else dfs.reduce((a, b) => graft.core.IoxSchema.mergeUnion(Seq(a, b)))
        df.createOrReplaceTempView(s"system_$t")
      }
      out.println(s"Loaded system tables: " +
        tables.map(t => s"system_$t").mkString(", "))
      ObserverState(s)
    }

    private def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    /** repl.rs next_command + run loop: accumulate lines until one ends
      * with `;` (multi-line statements); a bare `exit`/`quit` with no
      * pending statement exits immediately; EOF exits. */
    def loop(in: BufferedReader, echoPrompt: Boolean = true): Unit = {
      out.println("Ready for commands. (Hint: try 'help;')")
      var request = ""
      var running = true
      while (running) {
        if (echoPrompt && request.isEmpty) out.print(prompt)
        val line = in.readLine()
        if (line == null) running = false // EOF = exit
        else if (request.isEmpty &&
            Set("exit", "quit").contains(line.trim.toLowerCase(java.util.Locale.ROOT)))
          running = false
        else if (line.stripTrailing().endsWith(";")) {
          request += line.stripTrailing()
          ReplCommand.parse(request) match {
            case Left(err) => out.println(s"Error parsing command: $err")
            case Right(cmd) => running = handle(cmd)
          }
          request = ""
        } else request += line + " "
      }
    }
  }

  def main(args: Array[String]): Unit = {
    def opt(name: String, dflt: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)
    val url = opt("--url", "http://127.0.0.1:8080")
    // 4 cores and 4 shuffle partitions by default: observer queries read
    // a few system-table rows
    lazy val spark = graft.GraftSession.builder(graft.GraftSession.cpus("4"))
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val repl = new Repl(url, System.out, () => spark)
    repl.loop(new BufferedReader(new java.io.InputStreamReader(System.in, UTF_8)))
  }
}
