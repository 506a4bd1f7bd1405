package graft

import java.io.PrintStream
import org.apache.spark.sql.SparkSession
import graft.sql.Dialect
import graft.octo.Formats
import graft.sources.PathTable

/** CLI entry point mirroring the reference's `octosql "<SQL>"` surface
  * (cmd/root.go): run a dialect query over file tables and print in one
  * of its output formats; `--describe` / `--explain` inspect instead.
  *
  * Usage: graft.Cli "<SQL>" [--output live_table|batch_table|csv|json|stream_native]
  *        [--describe] [--explain]
  *
  * `execute` is the testable core (the golden-scenario replay drives it
  * with captured streams and injected stdin); `main` wires the real
  * process streams.
  */
object Cli {

  /** The reference CLI's usage text, printed (with the error) on any
    * failure — byte parity with its golden .err files (cobra output,
    * cmd/root.go flags).
    */
  val Usage: String =
    """Usage:
      |  octosql <query> [flags]
      |  octosql [command]
      |
      |Examples:
      |octosql "SELECT * FROM myfile.json"
      |octosql "SELECT * FROM mydir/myfile.csv"
      |octosql "SELECT * FROM plugins.plugins"
      |
      |Available Commands:
      |  completion  Generate the autocompletion script for the specified shell
      |  help        Help about any command
      |  plugin@PAD@
      |
      |Flags:
      |      --describe         Describe query output schema.
      |      --explain int      Describe query output schema.
      |  -h, --help             help for octosql
      |      --optimize         Whether OctoSQL should optimize the query. (default true)
      |  -o, --output string    Output format to use. Available options are live_table, batch_table, csv, json and stream_native. (default "live_table")
      |      --profile string   Enable profiling of the given type: cpu, memory, trace.
      |  -v, --version          version for octosql
      |
      |Use "octosql [command] --help" for more information about a command.
      |""".stripMargin.replace("@PAD@", "      ") // cobra pads the empty short description

  /** The reference's source-build version string (cmd/root.go:50
    * `VERSION = "dev"`; releases override it at link time).
    */
  val Version = "dev"

  /** cobra help for the bare `plugin` command (cmd/plugin.go — empty
    * Short/Long, two subcommands, name column padded like cobra).
    */
  val PluginUsage: String =
    """Usage:
      |  octosql plugin [command]
      |
      |Available Commands:
      |  install@PAD5@
      |  repository@PAD2@
      |
      |Flags:
      |  -h, --help   help for plugin
      |
      |Use "octosql plugin [command] --help" for more information about a command.
      |""".stripMargin.replace("@PAD5@", "     ").replace("@PAD2@", "  ")

  val PluginRepositoryUsage: String =
    """Usage:
      |  octosql plugin repository [command]
      |
      |Available Commands:
      |  add@PAD@
      |
      |Flags:
      |  -h, --help   help for repository
      |
      |Use "octosql plugin repository [command] --help" for more information about a command.
      |""".stripMargin.replace("@PAD@", "        ")

  case class CliArgs(sql: String, output: String = "live_table",
                     describe: Boolean = false, explain: Int = 0,
                     flagError: Option[String] = None,
                     help: Boolean = false, version: Boolean = false,
                     pluginArgs: Option[List[String]] = None)

  private val Outputs = Set("live_table", "batch_table", "csv", "json", "stream_native")

  /** cobra-compatible parsing (cmd/root.go): unknown flags and missing
    * values are errors, `--explain` takes an int, `-h/--help` and
    * `-v/--version` short-circuit (help before arg-count validation,
    * like cobra), `plugin` routes to the subcommand tree, and the root
    * command takes exactly one positional argument.
    */
  def parseArgs(args: Array[String]): CliArgs = {
    if (args.headOption.contains("plugin"))
      return CliArgs(sql = "", pluginArgs = Some(args.drop(1).toList))
    var a = CliArgs(sql = "")
    val positionals = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    def err(m: String): CliArgs = a.copy(flagError = Some(m))
    while (i < args.length) {
      args(i) match {
        case "-h" | "--help"    => a = a.copy(help = true); i += 1
        case "-v" | "--version" => a = a.copy(version = true); i += 1
        case "--output" | "-o" =>
          if (i + 1 >= args.length)
            return err(s"flag needs an argument: ${args(i)}")
          a = a.copy(output = args(i + 1)); i += 2
        case o if o.startsWith("--output=") =>
          a = a.copy(output = o.substring(9)); i += 1
        case o if o.startsWith("-o") && o.length > 2 =>
          a = a.copy(output = o.substring(2)); i += 1
        case "--describe" => a = a.copy(describe = true); i += 1
        case "--explain" =>
          if (i + 1 >= args.length)
            return err("flag needs an argument: --explain")
          args(i + 1).toIntOption match {
            case Some(n) => a = a.copy(explain = n); i += 2
            case None => return err(s"invalid argument \"${args(i + 1)}\" for \"--explain\" flag")
          }
        case o if o.startsWith("--explain=") =>
          o.substring(10).toIntOption match {
            case Some(n) => a = a.copy(explain = n); i += 1
            case None => return err(s"invalid argument \"${o.substring(10)}\" for \"--explain\" flag")
          }
        case "--optimize" => i += 1 // bool flag; accepted, ignored
        case o if o.startsWith("--optimize=") => i += 1
        case "--profile" =>
          if (i + 1 >= args.length) return err("flag needs an argument: --profile")
          i += 2 // accepted, ignored
        case o if o.startsWith("--profile=") => i += 1
        case o if o.startsWith("-") && o.length > 1 =>
          return err(s"unknown flag: $o")
        case p => positionals += p; i += 1
      }
    }
    a = a.copy(sql = positionals.headOption.getOrElse(""))
    // cobra checks the help/version flags before Args validation
    if (!a.help && !a.version && positionals.length != 1)
      a = a.copy(flagError = Some(s"accepts 1 arg(s), received ${positionals.length}"))
    a
  }

  private val PanicMarker = """GRAFTPANIC\|(\d+)\|([\s\S]*)""".r.unanchored

  /** The `plugin` subcommand tree (cmd/plugin.go, plugin_install.go,
    * plugin_repository*.go), accept-and-stub: this engine's connectors
    * are built in (see [[graft.sources.Plugins]]), there is no plugin
    * RPC or repository download, so install of a built-in succeeds as a
    * no-op and anything needing the network errors honestly.
    */
  val PluginInstallUsage: String =
    """Usage:
      |  octosql plugin install [flags]
      |
      |Flags:
      |  -h, --help   help for install
      |""".stripMargin

  private def runPlugin(args: List[String], out: PrintStream, err: PrintStream): Int =
    args match {
      case Nil | ("-h" | "--help") :: _ =>
        out.print(PluginUsage); 0
      case "install" :: rest =>
        if (rest.exists(a => a == "-h" || a == "--help")) {
          out.print(PluginInstallUsage); return 0
        }
        rest.filterNot(_.startsWith("-")) match {
          case Nil => 0 // reference installs config-listed plugins; none configured
          case names =>
            names.foldLeft(0) { (code, n) =>
              val bare = n.split("/").last
              if (graft.sources.Plugins.installedNames.contains(bare)) code
              else {
                err.println(s"Error: couldn't install plugin '$n': " +
                  "plugin repositories are unavailable in this build (connectors are built in)")
                1
              }
            }
        }
      case "repository" :: Nil | "repository" :: ("-h" | "--help") :: _ =>
        out.print(PluginRepositoryUsage); 0
      case "repository" :: "add" :: _ =>
        err.println("Error: couldn't add repository: " +
          "plugin repositories are unavailable in this build (connectors are built in)")
        1
      case "repository" :: other :: _ =>
        err.println(s"""Error: unknown command "$other" for "octosql plugin repository"""")
        err.println("""Run 'octosql plugin repository --help' for usage.""")
        1
      case other :: _ =>
        err.println(s"""Error: unknown command "$other" for "octosql plugin"""")
        err.println("""Run 'octosql plugin --help' for usage.""")
        1
    }

  /** Run one CLI invocation; returns the process exit code. */
  def execute(spark: SparkSession, args: CliArgs, baseDir: String,
              stdin: Option[String], out: PrintStream, err: PrintStream): Int = {
    args.pluginArgs.foreach(pa => return runPlugin(pa, out, err))
    // cobra precedence: help, then version, then flag/arg errors
    if (args.help) { out.print(Usage); return 0 }
    if (args.version) { out.println(s"octosql version $Version"); return 0 }
    args.flagError.foreach(m => return fail(err, m))
    if (!Outputs.contains(args.output))
      return fail(err, s"invalid output format: '${args.output}'")
    try {
      val ctx = Dialect.Ctx(baseDir, stdin)
      def answer(wholeFileCsv: Boolean): String = {
        val prep = Dialect.prepare(spark, args.sql, ctx, wholeFileCsv)
        // reference precedence (cmd/root.go): describe wins over explain.
        // --explain 1|2 emits the optimized physical plan as graphviz dot
        // (physical/explain.go; 2 adds type info), like the reference's
        // `dot -Tpng` pipeline but printing the dot source.
        if (!args.describe && args.explain >= 1)
          graft.octo.DotPlan.render(prep.df.queryExecution.executedPlan, args.explain >= 2)
        else Formats.render(if (args.describe) Formats.describeRows(prep) else prep, args.output)
      }
      // a CSV table's first rows under-typed a column (PathTable.read):
      // nothing is printed yet, so run it once more with whole-file types
      out.print(
        try answer(wholeFileCsv = false)
        catch { case e: Throwable if PathTable.isCsvSampleMisfit(e) => answer(wholeFileCsv = true) })
      0
    } catch {
      case e: Dialect.TypecheckException =>
        fail(err, s"typecheck error: ${e.getMessage}")
      case e: Throwable =>
        // walk the cause chain for reference-parity error classes
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12).toSeq
        chain.collectFirst {
          case j: graft.octo.JsonLineException => j
        } match {
          case Some(j) =>
            return fail(err,
              s"couldn't run query: couldn't run source: couldn't run source: ${j.getMessage}")
          case None =>
        }
        chain.map(c => Option(c.getMessage).getOrElse("")).collectFirst {
          case PanicMarker(idx, msg) => (idx, msg)
        } match {
          case Some((idx, msg)) =>
            val m = msg.stripSuffix(". SQLSTATE: USER_RAISED_EXCEPTION")
            fail(err, s"couldn't run query: couldn't run source: couldn't produce record: " +
              s"couldn't evaluate $idx map expression: couldn't evaluate function: ${cleanPanic(m)}")
          case None =>
            // runtime TypeAssertion failures (variant narrowing,
            // execution/expressions.go:75) surface as USER_RAISED
            // errors — render the reference's error text, not Spark's
            // stage-failure wrapper
            chain.map(c => Option(c.getMessage).getOrElse("")).collectFirst {
              case m if m.contains("invalid type: ") =>
                val start = m.indexOf("invalid type: ")
                cleanPanic(m.substring(start).takeWhile(_ != '\n')).stripSuffix(".")
            } match {
              case Some(assertion) =>
                fail(err, s"couldn't run query: couldn't evaluate function: $assertion")
              case None =>
                fail(err, s"couldn't run query: ${Option(e.getMessage).getOrElse(e.toString)}")
            }
        }
    }
  }

  /** raise_error wraps the message in Spark's USER_RAISED_EXCEPTION
    * template — strip everything after the marker payload.
    */
  private def cleanPanic(m: String): String = {
    val cut = m.indexOf(" SQLSTATE")
    val base = if (cut >= 0) m.substring(0, cut) else m
    base.trim
  }

  private def fail(err: PrintStream, msg: String): Int = {
    err.print(Usage)
    err.println()
    err.println(s"Error: $msg")
    1
  }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args)
    // help/version/plugin/flag-error paths don't need (or want) a Spark
    // session — cobra answers these instantly
    val needsEngine = parsed.flagError.isEmpty && !parsed.help &&
      !parsed.version && parsed.pluginArgs.isEmpty
    val spark =
      if (needsEngine) Engine.session(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      else null
    try {
      val code = execute(spark, parsed, baseDir = ".",
        stdin = None, out = System.out, err = System.err)
      if (code != 0) sys.exit(code)
    } finally if (spark != null) spark.stop()
  }
}
