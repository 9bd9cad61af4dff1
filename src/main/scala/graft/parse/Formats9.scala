package graft.parse

import graft.model.Severity

/** Ninth wave of format parsers: cppcheck, clang-tidy, prettier,
  * stylelint, phpstan (raw), go vet, dotnet test (vstest console),
  * elixir mix compile. Pattern knowledge is from the tools' public
  * output formats; no reference code is reproduced.
  */

object CppcheckParser extends LogParser {
  val format = "cppcheck_text"
  val tool = "cppcheck"
  // [src/foo.c:42]: (error) Possible null pointer dereference: p
  private val diag =
    """^\[([^:\]]+):(\d+)\]:\s*\((error|warning|style|performance|portability|information)\)\s*(.*)$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => diag.findFirstIn(l).isDefined)

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case diag(file, line, sev, msg) =>
        val severity = sev match {
          case "error" => Severity.Error
          case "warning" => Severity.Warning
          case _ => Severity.Info // style/performance/portability/information
        }
        out += mk(idx, i + 1, severity, msg, raw, "static-analysis",
          file = Some(file), line = Some(line.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object ClangTidyParser extends LogParser {
  val format = "clang_tidy"
  val tool = "clang-tidy"
  // /src/foo.cpp:42:10: warning: do not use C-style casts [cppcoreguidelines-pro-type-cstyle-cast]
  private val diag =
    """^([^:\s]+\.(?:c|cc|cpp|cxx|h|hpp|m|mm)):(\d+):(\d+):\s*(error|warning|note):\s*(.*?)\s*\[(\w[\w.,-]*)\]$""".r
  // notes carry no [check] suffix ("note: insert an explicit cast…") —
  // parse them too, but keep them OUT of sniff: the suffix is what
  // separates clang-tidy from plain gcc output in registry scoring.
  private val noteDiag =
    """^([^:\s]+\.(?:c|cc|cpp|cxx|h|hpp|m|mm)):(\d+):(\d+):\s*note:\s*(.*)$""".r

  // gcc's regex matches these lines too; the mandatory [check-name]
  // suffix + tripled score wins the tie on clang-tidy output while
  // gcc output never matches here: it has no suffix, or a `[-W…]`
  // option suffix, and check names never start with '-'.
  def sniff(lines: Array[String]): Int =
    lines.count(l => diag.findFirstIn(l).isDefined) * 3

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case diag(file, line, colN, sev, msg, check) =>
        out += mk(idx, i + 1, sev, msg, raw, "static-analysis",
          rule = Some(check), file = Some(file), line = Some(line.toInt),
          col = Some(colN.toInt))
        idx += 1
      case noteDiag(file, line, colN, msg) =>
        out += mk(idx, i + 1, "note", msg, raw, "static-analysis",
          file = Some(file), line = Some(line.toInt), col = Some(colN.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object PrettierParser extends LogParser {
  val format = "prettier_text"
  val tool = "prettier"
  // [warn] src/app.js   /  [error] src/bad.js: SyntaxError: Unexpected token (12:4)
  private val warnFile = """^\[warn\]\s+(\S+\.[a-z]{2,4})$""".r
  private val errFile =
    """^\[error\]\s+([^:\s]+):\s*(\w*Error.*?)(?:\s*\((\d+):(\d+)\))?$""".r
  private val summary = """^(?:\[warn\] )?Code style issues found in .*$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => warnFile.findFirstIn(l).isDefined ||
      errFile.findFirstIn(l).isDefined) +
      lines.count(l => summary.findFirstIn(l).isDefined) * 2

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case warnFile(file) =>
        out += mk(idx, i + 1, Severity.Warning, s"needs formatting: $file",
          raw, "format", file = Some(file))
        idx += 1
      case errFile(file, msg, line, colN) =>
        out += mk(idx, i + 1, Severity.Error, msg, raw, "format",
          file = Some(file), line = Option(line).map(_.toInt),
          col = Option(colN).map(_.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object StylelintParser extends LogParser {
  val format = "stylelint_text"
  val tool = "stylelint"
  // src/app.css
  //   12:4  ✖  Expected indentation of 2 spaces  indentation
  private val fileHead = """^(\S+\.(?:css|scss|sass|less))$""".r
  private val diag =
    """^\s+(\d+):(\d+)\s+([✖⚠])\s+(.*?)\s{2,}([\w-]+)\s*$""".r

  def sniff(lines: Array[String]): Int = {
    val d = lines.count(l => diag.findFirstIn(l).isDefined)
    if (d == 0) 0 else d + lines.count(l => fileHead.findFirstIn(l).isDefined)
  }

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    var currentFile: Option[String] = None
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case fileHead(file) => currentFile = Some(file)
      case diag(line, colN, mark, msg, rule) =>
        val severity = if (mark == "✖") Severity.Error else Severity.Warning
        out += mk(idx, i + 1, severity, msg, raw, "lint", rule = Some(rule),
          file = currentFile, line = Some(line.toInt), col = Some(colN.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object PhpstanParser extends LogParser {
  val format = "phpstan_raw"
  val tool = "phpstan"
  // /app/src/Foo.php:12:Parameter #1 $x of method App\Foo::bar() expects int
  private val diag = """^([^:\s]+\.php):(\d+):(.+)$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => diag.findFirstIn(l).isDefined)

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case diag(file, line, msg) =>
        out += mk(idx, i + 1, Severity.Error, msg.trim, raw, "static-analysis",
          file = Some(file), line = Some(line.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object GoVetParser extends LogParser {
  val format = "govet_text"
  val tool = "go-vet"
  // ./main.go:12:2: unreachable code   (no severity keyword — all findings)
  private val diag =
    """^(?:vet:\s*)?([^:\s]+\.go):(\d+):(\d+):\s*(.*)$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => diag.findFirstIn(l).isDefined)

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case diag(file, line, colN, msg) =>
        out += mk(idx, i + 1, Severity.Warning, msg, raw, "static-analysis",
          file = Some(file), line = Some(line.toInt), col = Some(colN.toInt))
        idx += 1
      case _ =>
    }
    out.result()
  }
}

object DotnetTestParser extends LogParser {
  val format = "dotnet_test"
  val tool = "dotnet"
  //   Failed Tests_Math_Adds [12 ms]   /  Passed Tests_Math_Multiplies [2 ms]
  // Failed!  - Failed:     1, Passed:     3, Skipped:     0, Total:     4
  private val result = """^\s*(Passed|Failed|Skipped)[!]?\s+([\w.`<>]+)\s*(?:\[[\d.]+\s*m?s\])?\s*$""".r
  private val summary =
    """^(Passed|Failed)!\s+-\s+Failed:\s*(\d+),\s*Passed:\s*(\d+),\s*Skipped:\s*(\d+),\s*Total:\s*(\d+).*$""".r
  private val errHead = """^\s+Error Message:\s*$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => result.findFirstIn(l).isDefined) +
      lines.count(l => summary.findFirstIn(l).isDefined ||
        errHead.findFirstIn(l).isDefined) * 2

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    var pendingFail: Option[(String, Int)] = None
    var capture = false
    def flush(msg: Option[String]): Unit = pendingFail.foreach { case (test, ln) =>
      out += mk(idx, ln, Severity.TestFail, msg.getOrElse(s"$test failed"),
        test, "test", test = Some(test))
      idx += 1; pendingFail = None; capture = false
    }
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case summary(outcome, failed, _, _, _) =>
        flush(None)
        val sev = if (failed.toInt > 0) Severity.Error else Severity.Info
        out += mk(idx, i + 1, sev, raw.trim, raw, "test-summary")
        idx += 1
      case result(res, test) =>
        flush(None)
        res match {
          case "Failed" => pendingFail = Some((test, i + 1))
          case "Passed" =>
            out += mk(idx, i + 1, Severity.TestPass, s"$test passed", test,
              "test", test = Some(test))
            idx += 1
          case _ =>
        }
      case l if errHead.findFirstIn(l).isDefined && pendingFail.isDefined =>
        capture = true
      case l if capture && l.trim.nonEmpty => flush(Some(l.trim))
      case _ =>
    }
    flush(None)
    out.result()
  }
}

object MixParser extends LogParser {
  val format = "mix_compile"
  val tool = "mix"
  // ** (CompileError) lib/foo.ex:12: undefined function bar/0
  // warning: variable "x" is unused
  //   lib/foo.ex:7
  private val compileErr =
    """^\*\* \((\w+Error)\) ([^:\s]+\.exs?):(\d+):\s*(.*)$""".r
  private val warnHead = """^warning:\s*(.*)$""".r
  private val loc = """^\s+([^:\s]+\.exs?):(\d+)(?::\s*.*)?$""".r

  def sniff(lines: Array[String]): Int =
    lines.count(l => compileErr.findFirstIn(l).isDefined) * 2 +
      lines.count(l => loc.findFirstIn(l).isDefined &&
        lines.exists(h => warnHead.findFirstIn(h).isDefined))

  def parse(content: String): Seq[ParsedEvent] = {
    val out = Seq.newBuilder[ParsedEvent]
    var idx = 0L
    var pendingWarn: Option[(String, Int)] = None
    def flush(file: Option[String], line: Option[Int]): Unit =
      pendingWarn.foreach { case (msg, ln) =>
        out += mk(idx, ln, Severity.Warning, msg, msg, "compile",
          file = file, line = line)
        idx += 1; pendingWarn = None
      }
    for ((raw, i) <- content.linesIterator.zipWithIndex) raw match {
      case compileErr(kind, file, line, msg) =>
        flush(None, None)
        out += mk(idx, i + 1, Severity.Error, msg, raw, "compile",
          code = Some(kind), file = Some(file), line = Some(line.toInt))
        idx += 1
      case warnHead(msg) => flush(None, None); pendingWarn = Some((msg, i + 1))
      case loc(file, line) if pendingWarn.isDefined =>
        flush(Some(file), Some(line.toInt))
      case _ =>
    }
    flush(None, None)
    out.result()
  }
}
