package graft

import graft.model.Severity
import graft.parse._
import org.apache.spark.sql.functions._

class ParserSpec extends SparkSpec {

  private def fixture(name: String): String = {
    val src = scala.io.Source.fromResource(s"logs/$name")(scala.io.Codec.UTF8)
    try src.mkString finally src.close()
  }

  test("gcc: errors/warnings with file:line:col, linker + fatal") {
    val evs = GccParser.parse(fixture("gcc_errors.log"))
    assert(evs.length === 6)
    val first = evs.head
    assert(first.severity === Severity.Error)
    assert(first.ref_file === Some("src/main.c"))
    assert(first.ref_line === Some(15) && first.ref_column === Some(5))
    assert(evs.count(_.severity == Severity.Warning) === 1)
    assert(evs.count(_.category.contains("link")) === 2)
    // fatal error mapped to error severity
    assert(evs.last.severity === Severity.Error)
    assert(evs.map(_.event_index) === (0L until 6L))
  }

  test("pytest: test results with test_name, pass/fail severities") {
    val evs = PytestParser.parse(fixture("pytest_failures.txt"))
    assert(evs.count(_.severity == Severity.TestFail) === 2)
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    val failed = evs.filter(_.severity == Severity.TestFail)
    assert(failed.map(_.test_name).flatten.toSet === Set("test_parse", "test_store"))
    assert(failed.head.message.get.contains("AssertionError"))
  }

  test("mypy: error codes populated, stable fingerprints group repeats") {
    val evs = MypyParser.parse(fixture("mypy_output.txt"))
    assert(evs.length === 5)
    assert(evs.head.code === Some("assignment"))
    // repeated template on same file → same fingerprint after DF stage
    val df = LogSource.parseContent(spark, fixture("mypy_output.txt"), "mypy_text")
    val byFp = df.filter(col("severity") === "error")
      .groupBy(col("fingerprint")).count().collect()
    assert(byFp.exists(_.getLong(1) === 2)) // src/app.py [assignment] x2
  }

  test("eslint: rule field populated, file carried from header") {
    val evs = EslintParser.parse(fixture("eslint_output.txt"))
    assert(evs.length === 3)
    assert(evs.head.rule === Some("no-unused-vars"))
    assert(evs.head.ref_file === Some("/app/src/index.js"))
    assert(evs(2).ref_file === Some("/app/src/util.js"))
    assert(evs(2).severity === Severity.Warning)
  }

  test("cargo: E-codes and --> locations") {
    val evs = CargoParser.parse(fixture("cargo_build.log"))
    val e = evs.find(_.code.contains("E0308")).get
    assert(e.ref_file === Some("src/main.rs"))
    assert(e.ref_line === Some(4) && e.ref_column === Some(5))
    assert(evs.exists(_.severity == Severity.Warning))
  }

  test("make: target errors with exit codes") {
    val evs = MakeParser.parse(fixture("make_fail.log"))
    assert(evs.length === 3)
    assert(evs.head.message.get.contains("main.o"))
    assert(evs.head.code === Some("1"))
    assert(evs(2).message.get.startsWith("No rule to make target"))
  }

  test("auto-detect picks the right format per fixture") {
    assert(FormatRegistry.detect(fixture("gcc_errors.log")).map(_.format) === Some("gcc_text"))
    assert(FormatRegistry.detect(fixture("mypy_output.txt")).map(_.format) === Some("mypy_text"))
    assert(FormatRegistry.detect(fixture("pytest_failures.txt")).map(_.format) === Some("pytest_text"))
    assert(FormatRegistry.detect(fixture("eslint_output.txt")).map(_.format) === Some("eslint_text"))
    assert(FormatRegistry.detect(fixture("cargo_build.log")).map(_.format) === Some("cargo_build"))
    assert(FormatRegistry.detect(fixture("make_fail.log")).map(_.format) === Some("make_error"))
    assert(FormatRegistry.detect(fixture("pylint_output.txt")).map(_.format) === Some("pylint_text"))
    assert(FormatRegistry.detect(fixture("clippy_dense.txt")).map(_.format) === Some("clippy_dense"))
    assert(FormatRegistry.detect(fixture("checkstyle_output.txt")).map(_.format) === Some("checkstyle_text"))
    assert(FormatRegistry.detect(fixture("spotbugs_output.txt")).map(_.format) === Some("spotbugs_text"))
    assert(FormatRegistry.detect(fixture("ktlint_output.txt")).map(_.format) === Some("ktlint_text"))
    assert(FormatRegistry.detect(fixture("junit_surefire.txt")).map(_.format) === Some("junit_text"))
    assert(FormatRegistry.detect(fixture("swift_build.log")).map(_.format) === Some("swift_text"))
    assert(FormatRegistry.detect(fixture("ansible_play.txt")).map(_.format) === Some("ansible_text"))
    assert(FormatRegistry.detect(fixture("pip_install.txt")).map(_.format) === Some("pip_text"))
    assert(FormatRegistry.detect(fixture("nginx_error.log")).map(_.format) === Some("nginx_error"))
    assert(FormatRegistry.detect(fixture("syslog_sample.txt")).map(_.format) === Some("syslog_text"))
    assert(FormatRegistry.detect(fixture("sbt_compile.txt")).map(_.format) === Some("sbt_text"))
    assert(FormatRegistry.detect(fixture("javac_errors.txt")).map(_.format) === Some("javac_text"))
    assert(FormatRegistry.detect(fixture("java_crash.txt")).map(_.format) === Some("java_stacktrace"))
    assert(FormatRegistry.detect(fixture("cmake_fail.txt")).map(_.format) === Some("cmake_build"))
    assert(FormatRegistry.detect(fixture("bazel_build.txt")).map(_.format) === Some("bazel_build"))
    assert(FormatRegistry.detect(fixture("valgrind_memcheck.txt")).map(_.format) === Some("valgrind"))
    assert(FormatRegistry.detect(fixture("flake8_output.txt")).map(_.format) === Some("flake8_text"))
    assert(FormatRegistry.detect(fixture("black_check.txt")).map(_.format) === Some("black_text"))
    assert(FormatRegistry.detect(fixture("mocha_run.txt")).map(_.format) === Some("mocha_chai_text"))
    assert(FormatRegistry.detect(fixture("gha_run.txt")).map(_.format) === Some("github_actions"))
    assert(FormatRegistry.detect(fixture("hadolint_out.txt")).map(_.format) === Some("hadolint_text"))
    assert(FormatRegistry.detect(fixture("sqlfluff_lint.txt")).map(_.format) === Some("sqlfluff_text"))
    assert(FormatRegistry.detect(fixture("cppcheck_out.txt")).map(_.format) === Some("cppcheck_text"))
    assert(FormatRegistry.detect(fixture("clang_tidy_out.txt")).map(_.format) === Some("clang_tidy"))
    assert(FormatRegistry.detect(fixture("prettier_check.txt")).map(_.format) === Some("prettier_text"))
    assert(FormatRegistry.detect(fixture("stylelint_out.txt")).map(_.format) === Some("stylelint_text"))
    assert(FormatRegistry.detect(fixture("phpstan_raw.txt")).map(_.format) === Some("phpstan_raw"))
    assert(FormatRegistry.detect(fixture("govet_out.txt")).map(_.format) === Some("govet_text"))
    assert(FormatRegistry.detect(fixture("dotnet_test.txt")).map(_.format) === Some("dotnet_test"))
    assert(FormatRegistry.detect(fixture("mix_compile.txt")).map(_.format) === Some("mix_compile"))
    assert(FormatRegistry.detect(fixture("shellcheck.json")).map(_.format) === Some("shellcheck_json"))
    assert(FormatRegistry.detect(fixture("gotest.json")).map(_.format) === Some("gotest_json"))
    assert(FormatRegistry.detect(fixture("bandit.json")).map(_.format) === Some("bandit_json"))
    assert(FormatRegistry.detect(fixture("rubocop.json")).map(_.format) === Some("rubocop_json"))
    assert(FormatRegistry.detect(fixture("hadolint.json")).map(_.format) === Some("hadolint_json"))
    assert(FormatRegistry.detect(fixture("trivy.json")).map(_.format) === Some("trivy_json"))
    assert(FormatRegistry.detect(fixture("ruff_out.txt")).map(_.format) === Some("ruff_text"))
    assert(FormatRegistry.detect(fixture("vitest_run.txt")).map(_.format) === Some("vitest_text"))
    assert(FormatRegistry.detect(fixture("deno_lint.txt")).map(_.format) === Some("deno_lint"))
    assert(FormatRegistry.detect(fixture("biome_out.txt")).map(_.format) === Some("biome_lint"))
    assert(FormatRegistry.detect(fixture("kube_events.txt")).map(_.format) === Some("kube_events"))
    assert(FormatRegistry.detect(fixture("npm_fail.txt")).map(_.format) === Some("npm_err"))
    assert(FormatRegistry.detect(fixture("sarif_scan.json")).map(_.format) === Some("sarif_json"))
    assert(FormatRegistry.detect(fixture("tap_run.txt")).map(_.format) === Some("tap_text"))
    assert(FormatRegistry.detect(fixture("markdownlint_out.txt")).map(_.format) === Some("markdownlint_text"))
    assert(FormatRegistry.detect(fixture("gcc_diag.json")).map(_.format) === Some("gcc_json"))
    // flake8 output without ruff markers still resolves to flake8
    assert(FormatRegistry.detect(fixture("flake8_output.txt")).map(_.format) === Some("flake8_text"))
    assert(FormatRegistry.detect(fixture("ninja_fail.txt")).map(_.format) === Some("ninja_build"))
    assert(FormatRegistry.detect(fixture("configure_fail.txt")).map(_.format) === Some("configure_text"))
    assert(FormatRegistry.detect(fixture("protoc_err.txt")).map(_.format) === Some("protoc_text"))
    assert(FormatRegistry.detect(fixture("gitlab_ci.txt")).map(_.format) === Some("gitlab_ci"))
    assert(FormatRegistry.detect(fixture("isort_check.txt")).map(_.format) === Some("isort_text"))
    assert(FormatRegistry.detect(fixture("gofmt_list.txt")).map(_.format) === Some("gofmt_text"))
    assert(FormatRegistry.detect(fixture("rustfmt_diff.txt")).map(_.format) === Some("rustfmt_text"))
    assert(FormatRegistry.detect(fixture("meson_fail.txt")).map(_.format) === Some("meson_build"))
    assert(FormatRegistry.detect(fixture("gtest_run.txt")).map(_.format) === Some("gtest_text"))
    assert(FormatRegistry.detect(fixture("playwright_run.txt")).map(_.format) === Some("playwright_text"))
    assert(FormatRegistry.detect(fixture("cypress_run.txt")).map(_.format) === Some("cypress_text"))
    assert(FormatRegistry.detect(fixture("webpack_fail.txt")).map(_.format) === Some("webpack_text"))
    assert(FormatRegistry.detect(fixture("tox_run.txt")).map(_.format) === Some("tox_text"))
    assert(FormatRegistry.detect(fixture("poetry_fail.txt")).map(_.format) === Some("poetry_text"))
    assert(FormatRegistry.detect(fixture("bundler_fail.txt")).map(_.format) === Some("bundler_text"))
    assert(FormatRegistry.detect(fixture("ghc_errors.txt")).map(_.format) === Some("ghc_text"))
    assert(FormatRegistry.detect(fixture("unittest_run.txt")).map(_.format) === Some("unittest_text"))
    assert(FormatRegistry.detect(fixture("minitest_run.txt")).map(_.format) === Some("minitest_text"))
    assert(FormatRegistry.detect(fixture("cucumber_run.txt")).map(_.format) === Some("cucumber_text"))
    assert(FormatRegistry.detect(fixture("karma_run.txt")).map(_.format) === Some("karma_text"))
    assert(FormatRegistry.detect(fixture("semgrep_out.txt")).map(_.format) === Some("semgrep_text"))
    assert(FormatRegistry.detect(fixture("k6_run.txt")).map(_.format) === Some("k6_text"))
    assert(FormatRegistry.detect(fixture("conda_fail.txt")).map(_.format) === Some("conda_text"))
    assert(FormatRegistry.detect(fixture("pnpm_fail.txt")).map(_.format) === Some("pnpm_text"))
    assert(FormatRegistry.detect(fixture("puppet_fail.txt")).map(_.format) === Some("puppet_text"))
    assert(FormatRegistry.detect(fixture("helm_lint.txt")).map(_.format) === Some("helm_lint"))
    assert(FormatRegistry.detect(fixture("dart_analyze.txt")).map(_.format) === Some("dart_analyze"))
    assert(FormatRegistry.detect(fixture("kotlinc_errors.txt")).map(_.format) === Some("kotlinc_text"))
    assert(FormatRegistry.detect(fixture("luacheck_out.txt")).map(_.format) === Some("luacheck_text"))
    assert(FormatRegistry.detect(fixture("zig_errors.txt")).map(_.format) === Some("zig_text"))
    assert(FormatRegistry.detect(fixture("ocaml_errors.txt")).map(_.format) === Some("ocaml_text"))
    assert(FormatRegistry.detect(fixture("r_check.txt")).map(_.format) === Some("r_check"))
  }

  test("long-tail tier: puppet, helm, dart, kotlinc, luacheck, zig, ocaml, R") {
    val pu = PuppetParser.parse(fixture("puppet_fail.txt"))
    assert(pu.length === 2)
    assert(pu.head.severity === Severity.Error)
    assert(pu.head.ref_file === Some("/etc/puppet/manifests/site.pp"))
    assert(pu.head.ref_line === Some(12) && pu.head.ref_column === Some(1))
    assert(pu(1).severity === Severity.Warning && pu(1).ref_column === None)

    val he = HelmParser.parse(fixture("helm_lint.txt"))
    assert(he.length === 3)
    assert(he.head.severity === Severity.Info)
    assert(he(1).severity === Severity.Error)
    assert(he(1).ref_file === Some("templates/deployment.yaml"))
    assert(he(1).rule === Some("mychart"))

    val da = DartParser.parse(fixture("dart_analyze.txt"))
    assert(da.length === 3)
    assert(da.head.rule === Some("undefined_identifier"))
    assert(da.head.ref_file === Some("lib/main.dart") && da.head.ref_line === Some(12))
    assert(da(2).severity === Severity.Info)

    val ko = KotlincParser.parse(fixture("kotlinc_errors.txt"))
    assert(ko.length === 3)
    assert(ko.head.severity === Severity.Error)
    assert(ko(1).severity === Severity.Warning)
    assert(ko(2).ref_file === Some("src/main/kotlin/Api.kts"))

    val lu = LuacheckParser.parse(fixture("luacheck_out.txt"))
    assert(lu.length === 2)
    assert(lu.forall(_.severity == Severity.Warning))
    assert(lu.head.ref_line === Some(12) && lu.head.ref_column === Some(10))

    val zi = ZigParser.parse(fixture("zig_errors.txt"))
    assert(zi.length === 3)
    assert(zi.count(_.severity == Severity.Error) === 2)
    assert(zi(1).severity === Severity.Note)

    val oc = OcamlParser.parse(fixture("ocaml_errors.txt"))
    assert(oc.length === 2)
    assert(oc.head.severity === Severity.Error)
    assert(oc.head.message === Some("Unbound value foo"))
    assert(oc.head.ref_file === Some("bin/main.ml") && oc.head.ref_line === Some(12))
    assert(oc(1).severity === Severity.Warning)

    val r = RCheckParser.parse(fixture("r_check.txt"))
    assert(r.length === 3) // NOTE + ERROR + Status (OK checks skipped)
    assert(r.head.severity === Severity.Note)
    assert(r(1).severity === Severity.Error)
    assert(r(2).message.get.contains("1 ERROR"))
  }

  test("unit/integration-test tier: unittest, minitest, cucumber, karma, semgrep, k6, conda, pnpm") {
    val ut = UnittestParser.parse(fixture("unittest_run.txt"))
    assert(ut.count(_.severity == Severity.TestPass) === 1)
    val uf = ut.filter(_.severity == Severity.TestFail)
    assert(uf.length === 1)
    assert(uf.head.test_name === Some("tests.test_core.StoreTest.test_store"))
    assert(uf.head.message.get.contains("2 != 1"))
    assert(ut.last.severity === Severity.Error) // FAILED (failures=1)

    val mt = MinitestParser.parse(fixture("minitest_run.txt"))
    val mf = mt.filter(_.severity == Severity.TestFail)
    assert(mf.length === 1)
    assert(mf.head.test_name === Some("UserTest#test_email"))
    assert(mf.head.ref_file === Some("test/user_test.rb") && mf.head.ref_line === Some(42))
    assert(mf.head.message.get.contains("Expected false"))

    val cu = CucumberParser.parse(fixture("cucumber_run.txt"))
    assert(cu.count(_.severity == Severity.TestFail) === 2)
    assert(cu.head.ref_file === Some("features/checkout.feature"))
    assert(cu.last.severity === Severity.Error) // 2 failed in summary

    val ka = KarmaParser.parse(fixture("karma_run.txt"))
    val kf = ka.filter(_.severity == Severity.TestFail)
    assert(kf.length === 1)
    assert(kf.head.message.get.contains("Expected 2 to be 0"))
    assert(kf.head.rule.get.startsWith("Chrome"))

    val sg = SemgrepParser.parse(fixture("semgrep_out.txt"))
    assert(sg.length === 3)
    assert(sg.head.rule === Some("python.lang.security.audit.formatted-sql-query"))
    assert(sg.head.ref_file === Some("app/db.py") && sg.head.ref_line === Some(12))
    assert(sg(2).ref_file === Some("app/web.py"))

    val k6 = K6Parser.parse(fixture("k6_run.txt"))
    assert(k6.count(_.severity == Severity.TestPass) === 1)
    assert(k6.count(_.severity == Severity.TestFail) === 1)
    assert(k6.count(_.severity == Severity.Info) === 3)

    val co = CondaParser.parse(fixture("conda_fail.txt"))
    assert(co.count(_.severity == Severity.Error) === 3)
    assert(co.head.code === Some("PackagesNotFoundError"))
    assert(co.exists(_.message.get.contains("nosuchpkg")))

    val pn = PnpmParser.parse(fixture("pnpm_fail.txt"))
    assert(pn.length === 2)
    assert(pn.head.severity === Severity.Warning)
    assert(pn(1).code === Some("ERR_PNPM_NO_MATCHING_VERSION"))
  }

  test("test/packaging tier: gtest, playwright, cypress, webpack, tox, poetry, bundler, ghc") {
    val gt = GtestParser.parse(fixture("gtest_run.txt"))
    assert(gt.count(_.severity == Severity.TestPass) === 2)
    val gf = gt.filter(_.severity == Severity.TestFail)
    assert(gf.length === 1 && gf.head.test_name === Some("MathTest.Divides"))
    assert(gf.head.ref_file === Some("math_test.cc") && gf.head.ref_line === Some(42))
    assert(gf.head.message.get.contains("div(4, 2)"))

    val pw = PlaywrightParser.parse(fixture("playwright_run.txt"))
    assert(pw.count(_.severity == Severity.TestPass) === 2)
    val pf = pw.filter(_.severity == Severity.TestFail)
    assert(pf.head.rule === Some("firefox"))
    assert(pf.head.ref_file === Some("cart.spec.ts") && pf.head.ref_line === Some(30))

    val cy = CypressParser.parse(fixture("cypress_run.txt"))
    assert(cy.count(_.severity == Severity.TestPass) === 2)
    val cf = cy.filter(_.severity == Severity.TestFail)
    assert(cf.length === 1 && cf.head.message.get.contains("AssertionError"))
    assert(cf.head.ref_file === Some("auth.cy.ts"))
    assert(cy.last.ref_file === Some("cart.cy.ts"))

    val wp = WebpackParser.parse(fixture("webpack_fail.txt"))
    assert(wp.length === 2)
    assert(wp.head.severity === Severity.Error)
    assert(wp.head.message.get.contains("Can't resolve"))
    assert(wp.head.ref_file === Some("./src/app.js") && wp.head.ref_line === Some(12))
    assert(wp(1).severity === Severity.Warning)

    val tox = ToxParser.parse(fixture("tox_run.txt"))
    assert(tox.count(_.severity == Severity.TestPass) === 1)
    assert(tox.count(_.severity == Severity.Error) === 2)
    assert(tox(2).message.get.contains("InterpreterNotFound"))

    val po = PoetryParser.parse(fixture("poetry_fail.txt"))
    assert(po.count(_.severity == Severity.Info) === 2)
    assert(po.count(_.severity == Severity.Error) === 2)
    assert(po.exists(_.message.get.contains("version solving failed")))

    val bu = BundlerParser.parse(fixture("bundler_fail.txt"))
    assert(bu.length === 2 && bu.forall(_.severity == Severity.Error))

    val ghc = GhcParser.parse(fixture("ghc_errors.txt"))
    assert(ghc.length === 3)
    assert(ghc.head.severity === Severity.Warning && ghc.head.rule === Some("-Wunused-imports"))
    assert(ghc(1).ref_file === Some("src/Main.hs") && ghc(1).ref_line === Some(12))
    assert(ghc(2).ref_line === Some(30)) // span form 30:9-14
  }

  test("build/format tier: ninja, configure, protoc, gitlab, isort, gofmt, rustfmt, meson") {
    val ninja = NinjaParser.parse(fixture("ninja_fail.txt"))
    assert(ninja.length === 2)
    assert(ninja.head.message.get.startsWith("FAILED: obj/parser.o"))
    assert(ninja(1).message.get.contains("subcommand failed"))

    val conf = ConfigureParser.parse(fixture("configure_fail.txt"))
    assert(conf.count(_.severity == Severity.Error) === 1)
    assert(conf.count(_.severity == Severity.Warning) === 1)
    assert(conf.exists(_.message.get.startsWith("missing:")))

    val proto = ProtocParser.parse(fixture("protoc_err.txt"))
    assert(proto.length === 3)
    assert(proto.head.ref_file === Some("api/user.proto") && proto.head.ref_line === Some(12))
    assert(proto(2).severity === Severity.Warning)

    val gl = GitlabCiParser.parse(fixture("gitlab_ci.txt"))
    assert(gl.length === 1)
    assert(gl.head.severity === Severity.Error)
    assert(gl.head.message.get.contains("exit code 2"))

    val isort = IsortParser.parse(fixture("isort_check.txt"))
    assert(isort.count(_.severity == Severity.Warning) === 2)
    assert(isort.count(_.severity == Severity.Info) === 1)

    val gofmt = GofmtParser.parse(fixture("gofmt_list.txt"))
    assert(gofmt.length === 3 && gofmt.forall(_.severity == Severity.Warning))

    val rustfmt = RustfmtParser.parse(fixture("rustfmt_diff.txt"))
    assert(rustfmt.length === 2)
    assert(rustfmt.head.ref_file === Some("/src/main.rs") && rustfmt.head.ref_line === Some(4))

    val meson = MesonParser.parse(fixture("meson_fail.txt"))
    assert(meson.length === 2)
    assert(meson.head.severity === Severity.Error && meson.head.ref_line === Some(12))
    assert(meson(1).severity === Severity.Warning)
  }

  test("ruff: extended code families, fixable marker, summary bonus") {
    val evs = RuffParser.parse(fixture("ruff_out.txt"))
    assert(evs.length === 4)
    assert(evs.head.code === Some("F401") && evs.head.rule === Some("fixable"))
    assert(evs(2).code === Some("PLR0913") && evs(2).severity === Severity.Warning)
    assert(evs(1).severity === Severity.Error) // E501
  }

  test("vitest: file ticks, per-test failures with arrow messages") {
    val evs = VitestParser.parse(fixture("vitest_run.txt"))
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.length === 1)
    assert(fails.head.test_name === Some("subtracts numbers"))
    assert(fails.head.message.get.contains("expected 2 to be 0"))
    assert(fails.head.ref_file === Some("src/calc.test.ts"))
    assert(evs.last.severity === Severity.Error) // summary with failures
  }

  test("deno lint: rust-style headers with --> locations") {
    val evs = DenoLintParser.parse(fixture("deno_lint.txt"))
    assert(evs.length === 2)
    assert(evs.head.rule === Some("no-unused-vars") && evs.head.severity === Severity.Error)
    assert(evs.head.ref_file === Some("/app/main.ts") && evs.head.ref_line === Some(12))
    assert(evs(1).severity === Severity.Warning)
  }

  test("biome: rule-path headers with mark-prefixed messages") {
    val evs = BiomeParser.parse(fixture("biome_out.txt"))
    assert(evs.length === 2)
    assert(evs.head.rule === Some("lint/style/noVar"))
    assert(evs.head.message === Some("Use let or const instead of var."))
    assert(evs(1).ref_line === Some(30))
  }

  test("kubectl events: warning rows become events keyed by reason/object") {
    val evs = KubeEventsParser.parse(fixture("kube_events.txt"))
    assert(evs.length === 3)
    assert(evs.head.severity === Severity.Warning)
    assert(evs.head.code === Some("BackOff") && evs.head.ref_file === Some("pod/app-1"))
    assert(evs(1).severity === Severity.Info)
  }

  test("npm: ERR!/WARN lines, ELIFECYCLE code extracted") {
    val evs = NpmParser.parse(fixture("npm_fail.txt"))
    assert(evs.length === 5)
    assert(evs.head.severity === Severity.Warning)
    assert(evs.count(_.severity == Severity.Error) === 4)
    assert(evs.exists(_.code === Some("ELIFECYCLE")))
  }

  test("shellcheck json: SC codes, level mapping") {
    val evs = ShellcheckJsonParser.parse(fixture("shellcheck.json"))
    assert(evs.length === 3)
    assert(evs.head.code === Some("SC2086") && evs.head.severity === Severity.Warning)
    assert(evs(1).severity === Severity.Error)
    assert(evs(2).severity === Severity.Info)
    assert(evs.head.ref_file === Some("deploy.sh") && evs.head.ref_line === Some(12))
  }

  test("go test json: pass/fail events, fail message from last output") {
    val evs = GoTestJsonParser.parse(fixture("gotest.json"))
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.length === 1) // package-level fail (no Test field) skipped
    assert(fails.head.test_name === Some("TestDiv"))
    assert(fails.head.message.get.contains("expected 2, got 1"))
  }

  test("bandit json: issue severity classes, test ids") {
    val evs = BanditJsonParser.parse(fixture("bandit.json"))
    assert(evs.length === 2)
    assert(evs.head.severity === Severity.Error) // HIGH
    assert(evs.head.code === Some("B602"))
    assert(evs.head.ref_file === Some("app/run.py") && evs.head.ref_line === Some(42))
    assert(evs(1).severity === Severity.Warning) // MEDIUM
  }

  test("rubocop json: offenses flattened with cop names") {
    val evs = RubocopJsonParser.parse(fixture("rubocop.json"))
    assert(evs.length === 2)
    assert(evs.head.severity === Severity.Info) // convention
    assert(evs.head.rule === Some("Style/Documentation"))
    assert(evs(1).severity === Severity.Error)
    assert(evs(1).ref_line === Some(88))
  }

  test("hadolint json: same shape as shellcheck but DL/SC string codes") {
    val evs = HadolintJsonParser.parse(fixture("hadolint.json"))
    assert(evs.length === 2)
    assert(evs.head.code === Some("DL3006") && evs.head.severity === Severity.Warning)
    assert(evs(1).severity === Severity.Error)
  }

  test("pytest json-report: outcomes mapped, failure longrepr tail as message") {
    assert(FormatRegistry.detect(fixture("pytest_report.json")).map(_.format)
      === Some("pytest_json"))
    val evs = PytestJsonParser.parse(fixture("pytest_report.json"))
    assert(evs.length === 3)
    assert(evs.head.severity === Severity.TestPass)
    assert(evs(1).severity === Severity.TestFail)
    assert(evs(1).test_name === Some("tests/test_parse.py::test_broken"))
    assert(evs(1).message.get.contains("AssertionError"))
    assert(evs(1).ref_file === Some("tests/test_parse.py"))
    assert(evs(2).severity === Severity.Info) // skipped
  }

  test("trivy json: vulnerabilities per target with CVE codes") {
    val evs = TrivyJsonParser.parse(fixture("trivy.json"))
    assert(evs.length === 3)
    assert(evs.head.code === Some("CVE-2024-1234") && evs.head.severity === Severity.Error)
    assert(evs.head.message.get.contains("openssl"))
    assert(evs(1).severity === Severity.Warning)
    assert(evs(2).severity === Severity.Info)
    assert(evs.head.ref_file.get.contains("myapp:latest"))
  }

  test("cppcheck: bracketed locations, category severities") {
    val evs = CppcheckParser.parse(fixture("cppcheck_out.txt"))
    assert(evs.length === 4)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.ref_file === Some("src/parser.c") && evs.head.ref_line === Some(42))
    assert(evs(1).severity === Severity.Warning)
    assert(evs(2).severity === Severity.Info) // style
  }

  test("clang-tidy: check name suffix beats plain gcc shape") {
    val evs = ClangTidyParser.parse(fixture("clang_tidy_out.txt"))
    assert(evs.length === 3)
    assert(evs.head.rule === Some("cppcoreguidelines-pro-type-cstyle-cast"))
    assert(evs(2).severity === Severity.Error)
    // gcc also matches these lines; detection must prefer clang-tidy
    assert(GccParser.sniff(fixture("clang_tidy_out.txt").linesIterator.toArray) > 0)
  }

  test("gcc log with [-W…] option suffixes detects as gcc and keeps its error") {
    // gcc tags warnings with the flag that enabled them; clang-tidy
    // check names never start with '-', so these lines are not clang-tidy
    val log = Seq(
      "src/a.c:3:9: warning: unused variable 'x' [-Wunused-variable]",
      "src/a.c:7:1: warning: control reaches end of non-void function [-Wreturn-type]",
      "src/b.c:12:5: error: 'y' undeclared (first use in this function)",
      "src/b.c:20:14: warning: comparison of integer expressions of different signedness [-Wsign-compare]"
    ).mkString("\n")
    assert(FormatRegistry.detect(log).map(_.format) === Some("gcc_text"))
    val evs = FormatRegistry.parse(log)
    assert(evs.count(_.severity == Severity.Error) === 1)
    assert(evs.count(_.severity == Severity.Warning) === 3)
    assert(evs.find(_.severity == Severity.Error).flatMap(_.ref_file) === Some("src/b.c"))
  }

  test("prettier: warn files and syntax errors with positions") {
    val evs = PrettierParser.parse(fixture("prettier_check.txt"))
    assert(evs.count(_.severity == Severity.Warning) === 2)
    val err = evs.find(_.severity == Severity.Error).get
    assert(err.ref_file === Some("src/bad.js"))
    assert(err.ref_line === Some(12) && err.ref_column === Some(4))
  }

  test("stylelint: diags inherit file headers, marks map severity") {
    val evs = StylelintParser.parse(fixture("stylelint_out.txt"))
    assert(evs.length === 3)
    assert(evs.head.ref_file === Some("src/app.css"))
    assert(evs.head.severity === Severity.Error && evs(1).severity === Severity.Warning)
    assert(evs(2).ref_file === Some("src/theme.scss"))
    assert(evs(2).rule === Some("color-no-invalid-hex"))
  }

  test("phpstan raw: file:line:message triples") {
    val evs = PhpstanParser.parse(fixture("phpstan_raw.txt"))
    assert(evs.length === 3)
    assert(evs.forall(_.severity == Severity.Error))
    assert(evs.head.ref_file === Some("/app/src/Service/Payment.php"))
    assert(evs.head.ref_line === Some(42))
  }

  test("go vet: findings without severity keywords, vet: prefix tolerated") {
    val evs = GoVetParser.parse(fixture("govet_out.txt"))
    assert(evs.length === 3)
    assert(evs.forall(_.severity == Severity.Warning))
    assert(evs(2).ref_file === Some("./store/db.go") && evs(2).ref_line === Some(7))
  }

  test("dotnet test: vstest console results with error message capture") {
    val evs = DotnetTestParser.parse(fixture("dotnet_test.txt"))
    assert(evs.count(_.severity == Severity.TestPass) === 2)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.length === 1)
    assert(fails.head.test_name === Some("Tests.Math.Adds"))
    assert(fails.head.message.get.contains("Assert.Equal() Failure"))
    assert(evs.last.severity === Severity.Error) // summary with failures
  }

  test("mix: compile errors with kind, warnings located by next line") {
    val evs = MixParser.parse(fixture("mix_compile.txt"))
    assert(evs.length === 2)
    val warn = evs.find(_.severity == Severity.Warning).get
    assert(warn.ref_file === Some("lib/foo.ex") && warn.ref_line === Some(7))
    val err = evs.find(_.severity == Severity.Error).get
    assert(err.code === Some("CompileError"))
    assert(err.ref_file === Some("lib/bar.ex") && err.ref_line === Some(12))
  }

  test("sbt/scalac: bracketed diagnostics with col, phase failure line") {
    val evs = SbtParser.parse(fixture("sbt_compile.txt"))
    assert(evs.length === 4)
    assert(evs.head.ref_file === Some("/work/src/main/scala/com/example/Foo.scala"))
    assert(evs.head.ref_line === Some(12) && evs.head.ref_column === Some(34))
    assert(evs(1).severity === Severity.Warning)
    assert(evs(3).message.get.startsWith("Compile / compileIncremental"))
  }

  test("javac: no-column diagnostics beat the gcc/mypy shape on .java") {
    val evs = JavacParser.parse(fixture("javac_errors.txt"))
    assert(evs.length === 2)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.ref_file === Some("Main.java") && evs.head.ref_line === Some(12))
    assert(evs(1).severity === Severity.Warning)
  }

  test("java stack trace: one event per exception, first frame located") {
    val evs = JavaStackTraceParser.parse(fixture("java_crash.txt"))
    assert(evs.length === 2)
    assert(evs.head.code === Some("java.lang.NullPointerException"))
    assert(evs.head.ref_file === Some("Service.java") && evs.head.ref_line === Some(42))
    assert(evs(1).code === Some("java.io.IOException"))
    assert(evs(1).ref_file === Some("Db.java") && evs(1).ref_line === Some(77))
  }

  test("cmake: multi-line error blocks with location and command") {
    val evs = CmakeParser.parse(fixture("cmake_fail.txt"))
    assert(evs.length === 3)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.ref_file === Some("CMakeLists.txt") && evs.head.ref_line === Some(14))
    assert(evs.head.rule === Some("add_executable"))
    assert(evs.head.message.get.contains("Cannot find source file"))
    assert(evs(1).severity === Severity.Warning)
  }

  test("bazel: BUILD-file diagnostics and test results") {
    val evs = BazelParser.parse(fixture("bazel_build.txt"))
    assert(evs.length === 4)
    assert(evs.head.ref_file === Some("/work/pkg/BUILD") && evs.head.ref_line === Some(12))
    assert(evs.count(_.severity == Severity.TestFail) === 1)
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    assert(evs.find(_.severity == Severity.TestFail).get.test_name === Some("//pkg:foo_test"))
  }

  test("valgrind: issues located at first frame, error summary") {
    val evs = ValgrindParser.parse(fixture("valgrind_memcheck.txt"))
    assert(evs.length === 3)
    assert(evs.head.message.get.startsWith("Invalid read"))
    assert(evs.head.ref_file === Some("foo.c") && evs.head.ref_line === Some(42))
    assert(evs(1).message.get.contains("definitely lost"))
    assert(evs(2).severity === Severity.Error) // summary with 2 errors
  }

  test("flake8: code families map to severity, no pylint confusion") {
    val evs = Flake8Parser.parse(fixture("flake8_output.txt"))
    assert(evs.length === 4)
    assert(evs.map(_.code.get) === Seq("E302", "E501", "F401", "W291"))
    assert(evs.count(_.severity == Severity.Error) === 3)
    assert(evs(3).severity === Severity.Warning)
    // pylint must NOT claim flake8 output (codes are E302, not E0302)
    assert(PylintParser.sniff(fixture("flake8_output.txt").linesIterator.toArray) === 0)
  }

  test("black: would-reformat warnings, parse failures as errors") {
    val evs = BlackParser.parse(fixture("black_check.txt"))
    assert(evs.count(_.severity == Severity.Warning) === 2)
    assert(evs.count(_.severity == Severity.Error) === 1)
    assert(evs.count(_.severity == Severity.Info) === 1)
    val err = evs.find(_.severity == Severity.Error).get
    assert(err.ref_file === Some("bad.py") && err.ref_line === Some(12))
  }

  test("mocha: ticks pass, numbered failures carry assertion message") {
    val evs = MochaParser.parse(fixture("mocha_run.txt"))
    assert(evs.count(_.severity == Severity.TestPass) === 2)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.length === 1)
    assert(fails.head.test_name === Some("subtracts numbers"))
    assert(fails.head.message.get.contains("AssertionError"))
  }

  test("mocha: pass marker directly after a failure marker is not eaten as the message") {
    val interleaved =
      """  Calculator
        |    ✓ adds
        |    1) subtracts:
        |    ✓ multiplies
        |       AssertionError: later details block
        |  2 passing (10ms)
        |  1 failing""".stripMargin
    val evs = MochaParser.parse(interleaved)
    assert(evs.count(_.severity == Severity.TestPass) === 2)
    val fail = evs.filter(_.severity == Severity.TestFail)
    assert(fail.length === 1)
    assert(fail.head.test_name === Some("subtracts"))
    assert(!fail.head.message.get.contains("✓"))
  }

  test("github actions: ##[level] annotations with or without timestamps") {
    val evs = GithubActionsParser.parse(fixture("gha_run.txt"))
    assert(evs.length === 3)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.message.get.contains("exit code 2"))
    assert(evs(1).severity === Severity.Warning)
    assert(evs(2).severity === Severity.Note)
  }

  test("hadolint: DL/SC codes with level words") {
    val evs = HadolintParser.parse(fixture("hadolint_out.txt"))
    assert(evs.length === 4)
    assert(evs.head.code === Some("DL3006") && evs.head.severity === Severity.Warning)
    assert(evs(2).severity === Severity.Error)
    assert(evs(3).severity === Severity.Info)
    assert(evs(3).ref_file === Some("services/api/Dockerfile"))
  }

  test("sqlfluff: L/P table rows inherit the current file header") {
    val evs = SqlfluffParser.parse(fixture("sqlfluff_lint.txt"))
    assert(evs.length === 3)
    assert(evs.head.ref_file === Some("models/orders.sql"))
    assert(evs.head.code === Some("L010") && evs.head.ref_line === Some(12))
    assert(evs(2).ref_file === Some("models/events.sql"))
  }

  test("pylint: code + symbolic rule, severity classes from code letter") {
    val evs = PylintParser.parse(fixture("pylint_output.txt"))
    assert(evs.length === 5)
    assert(evs.head.code === Some("E1101") && evs.head.rule === Some("no-member"))
    assert(evs.head.severity === Severity.Error)
    assert(evs(1).severity === Severity.Info)     // C0114 convention
    assert(evs(2).severity === Severity.Warning)  // W0612
    assert(evs(3).severity === Severity.Info)     // R0914 refactor
    assert(evs.head.ref_file === Some("app/models.py"))
    assert(evs.head.ref_line === Some(42) && evs.head.ref_column === Some(8))
  }

  test("clippy dense: rustc short form with E-codes and lint names") {
    val evs = ClippyDenseParser.parse(fixture("clippy_dense.txt"))
    assert(evs.length === 5)
    assert(evs.head.severity === Severity.Warning)
    assert(evs.head.rule === Some("unused_variables"))
    assert(evs(1).rule === Some("clippy::needless_borrow"))
    assert(evs(2).code === Some("E0308") && evs(2).severity === Severity.Error)
    assert(evs(3).severity === Severity.Note)
  }

  test("checkstyle: bracketed severity, check name, optional column") {
    val evs = CheckstyleParser.parse(fixture("checkstyle_output.txt"))
    assert(evs.length === 4)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.rule === Some("JavadocMethod"))
    assert(evs(1).severity === Severity.Warning && evs(1).ref_column === None)
    assert(evs(3).severity === Severity.Info)
  }

  test("spotbugs: priority to severity, bug type as code") {
    val evs = SpotbugsParser.parse(fixture("spotbugs_output.txt"))
    assert(evs.length === 3)
    assert(evs.head.severity === Severity.Error) // H priority
    assert(evs.head.code === Some("NP_NULL_ON_SOME_PATH"))
    assert(evs.head.ref_file === Some("Service.java") && evs.head.ref_line === Some(42))
    assert(evs(1).severity === Severity.Warning)
  }

  test("ktlint: rule in parens, kt and kts files") {
    val evs = KtlintParser.parse(fixture("ktlint_output.txt"))
    assert(evs.length === 4)
    assert(evs.forall(_.severity == Severity.Error))
    assert(evs.head.rule === Some("no-blank-line-before-rbrace"))
    assert(evs(3).ref_file === Some("src/test/kotlin/com/example/MainTest.kts"))
  }

  test("junit surefire text: pass/fail/error results + summary") {
    val evs = JunitTextParser.parse(fixture("junit_surefire.txt"))
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    assert(evs.count(_.severity == Severity.TestFail) === 2)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.head.test_name === Some("com.example.CalculatorTest.testDivision"))
    assert(fails.head.message.get.contains("AssertionError"))
    // summary line carries the aggregate and error severity (failures > 0)
    assert(evs.last.severity === Severity.Error)
    assert(evs.last.message.get.contains("failures: 1"))
  }

  test("swiftc: gcc-shaped diagnostics win detection via .swift anchor") {
    val evs = SwiftParser.parse(fixture("swift_build.log"))
    assert(evs.length === 4)
    assert(evs.head.severity === Severity.Error)
    assert(evs.head.ref_file === Some("/App/Sources/Main.swift"))
    assert(evs(3).message === Some("BUILD FAILED"))
    // gcc's parser would also match these lines — detection must not pick it
    assert(GccParser.sniff(fixture("swift_build.log").linesIterator.toArray) > 0)
  }

  test("ansible: fatal hosts as errors with task context, recap warnings") {
    val evs = AnsibleParser.parse(fixture("ansible_play.txt"))
    val errors = evs.filter(_.severity == Severity.Error)
    assert(errors.length === 2)
    assert(errors.head.message.get.contains("No package nginx available"))
    assert(errors.head.test_name === Some("install nginx"))
    assert(errors(1).code === Some("unreachable"))
    // recap rows with failures/unreachable > 0 surface as warnings
    assert(evs.count(_.severity == Severity.Warning) === 2)
  }

  test("pip/uv: errors and warnings only with install context present") {
    val evs = PipParser.parse(fixture("pip_install.txt"))
    assert(evs.count(_.severity == Severity.Error) === 2)
    assert(evs.count(_.severity == Severity.Warning) === 1)
    assert(evs.exists(_.message.get.startsWith("installed: requests")))
    // a generic error log without install context must not detect as pip
    assert(PipParser.sniff(Array("ERROR: something broke", "all bad")) === 0)
  }

  test("nginx error log: level mapping emerg..info") {
    val evs = NginxParser.parse(fixture("nginx_error.log"))
    assert(evs.length === 4)
    assert(evs.head.severity === Severity.Error)
    assert(evs(1).severity === Severity.Warning)
    assert(evs(2).severity === Severity.Error) // crit
    assert(evs(3).severity === Severity.Note)  // notice
  }

  test("syslog: host/process extracted, severity from message keywords") {
    val evs = SyslogParser.parse(fixture("syslog_sample.txt"))
    assert(evs.length === 5)
    assert(evs.head.severity === Severity.Error) // Failed password
    assert(evs.head.rule === Some("sshd"))
    assert(evs(3).severity === Severity.Error)   // OOM Killed
    assert(evs(4).severity === Severity.Info)    // cron CMD
  }

  test("command hints cover the new tier") {
    assert(FormatRegistry.detectFormatFromCommand("pylint src/") === "pylint_text")
    assert(FormatRegistry.detectFormatFromCommand("cargo clippy --all-targets") === "clippy_dense")
    assert(FormatRegistry.detectFormatFromCommand("ansible-playbook site.yml") === "ansible_text")
    assert(FormatRegistry.detectFormatFromCommand("pip install -r requirements.txt") === "pip_text")
    assert(FormatRegistry.detectFormatFromCommand("xcodebuild -scheme App test") === "swift_text")
  }

  test("auto on unknown content: zero or generic events, no crash") {
    val evs = FormatRegistry.parse(fixture("mixed_unknown.log"), "auto")
    assert(evs.isEmpty || evs.forall(_.tool_name.contains("generic")))
  }

  test("comma-separated hints tried in order with auto fallback") {
    // gcc hint on mypy content parses mypy-looking lines via gcc regex? No —
    // mypy lines lack the col, gcc still matches file:line: pattern... the
    // contract is: first format yielding events wins.
    val evs = FormatRegistry.parse(fixture("cargo_build.log"), "eslint_text,cargo_build")
    assert(evs.nonEmpty && evs.head.tool_name === Some("cargo"))
    // unknown format name falls through to auto
    val evs2 = FormatRegistry.parse(fixture("gcc_errors.log"), "no_such_format")
    assert(evs2.nonEmpty && evs2.head.tool_name === Some("gcc"))
  }

  test("command hints: longest pattern wins, unknown → auto") {
    assert(FormatRegistry.detectFormatFromCommand("python -m pytest tests/") === "pytest_text")
    assert(FormatRegistry.detectFormatFromCommand("mypy src/") === "mypy_text")
    assert(FormatRegistry.detectFormatFromCommand("cargo build --release") === "cargo_build")
    assert(FormatRegistry.detectFormatFromCommand("unknown-tool") === "auto")
  }

  test("sarif: multi-run document, driver names, spec-default level") {
    val evs = SarifParser.parse(fixture("sarif_scan.json"))
    assert(evs.length === 5)
    assert(evs.count(_.severity == Severity.Error) === 2)
    assert(evs.count(_.severity == Severity.Warning) === 2) // incl. absent level
    assert(evs.count(_.severity == Severity.Note) === 1)
    val sql = evs.find(_.rule.contains("js/sql-injection")).get
    assert(sql.ref_file === Some("src/db/query.js"))
    assert(sql.ref_line === Some(42) && sql.ref_column === Some(13))
    assert(sql.message.get.startsWith("[CodeQL]"))
    assert(evs.exists(_.message.exists(_.startsWith("[semgrep]"))))
    // absent level defaults to warning (SARIF spec)
    assert(evs.find(_.rule.contains("js/todo-comment")).get.severity === Severity.Warning)
  }

  test("tap: results, SKIP/TODO directives, yaml diagnostic message") {
    val evs = TapParser.parse(fixture("tap_run.txt"))
    assert(evs.count(_.severity == Severity.TestPass) === 4)
    assert(evs.count(_.severity == Severity.TestFail) === 2)
    assert(evs.count(_.severity == Severity.Info) === 2) // SKIP + TODO
    val tls = evs.find(_.test_name.contains("starts server with tls")).get
    assert(tls.message === Some("handshake failed: unknown authority"))
    assert(tls.log_line_end.exists(_ > tls.log_line_start.get))
    assert(evs.find(_.test_name.contains("routes v2 requests")).get
      .message.get.contains("ListItemsV2"))
  }

  test("tap: unnumbered results still parse (spec-optional test number)") {
    val evs = TapParser.parse(
      """ok - connects
        |not ok - database connection refused
        |ok third thing
        |1..3""".stripMargin)
    assert(evs.count(_.severity == Severity.TestPass) === 2)
    val fail = evs.filter(_.severity == Severity.TestFail)
    assert(fail.length === 1)
    assert(fail.head.test_name === Some("database connection refused"))
  }

  test("pytest: parametrized ids with spaces parse in verbose and summary lines") {
    val evs = PytestParser.parse(
      """tests/test_q.py::test_parse[two words] FAILED                     [ 50%]
        |tests/test_q.py::test_parse[solo] PASSED                          [100%]
        |=========================== short test summary info ============================
        |FAILED tests/test_q.py::test_parse[two words] - AssertionError: boom""".stripMargin)
    assert(evs.count(_.severity == Severity.TestPass) === 1)
    val fails = evs.filter(_.severity == Severity.TestFail)
    assert(fails.length === 1) // verbose + summary dedup to one
    assert(fails.head.test_name === Some("test_parse[two words]"))
    assert(fails.head.message.get.contains("AssertionError"))
  }

  test("markdownlint: MD codes + aliased rules, optional column") {
    val evs = MarkdownlintParser.parse(fixture("markdownlint_out.txt"))
    assert(evs.length === 7)
    assert(evs.forall(_.severity == Severity.Warning))
    assert(evs.head.code === Some("MD013"))
    assert(evs.head.ref_column === Some(81))
    val noCol = evs.find(_.ref_line.contains(23)).get
    assert(noCol.ref_column.isEmpty)
    assert(noCol.rule === Some("first-line-heading/first-line-h1"))
    assert(evs.exists(_.ref_file.contains("docs/api/reference.md")))
  }

  test("gcc json diagnostics: per-invocation arrays, option as rule") {
    val evs = GccJsonParser.parse(fixture("gcc_diag.json"))
    assert(evs.length === 3)
    assert(evs.count(_.severity == Severity.Error) === 2) // incl. fatal
    val unused = evs.find(_.severity == Severity.Warning).get
    assert(unused.rule === Some("-Wunused-variable"))
    assert(unused.ref_file === Some("src/main.c") && unused.ref_line === Some(42))
    val fatal = evs.find(_.ref_file.contains("src/legacy.c")).get
    assert(fatal.severity === Severity.Error && fatal.rule.isEmpty)
  }

  test("distributed read: wholetext scan + executor-side parse") {
    val dir = getClass.getResource("/logs").getPath
    val df = LogSource.readLogFiles(spark, s"$dir/*.log", "auto")
    assert(df.columns.contains("log_file") && df.columns.contains("fingerprint"))
    val byFile = df.groupBy(col("log_file")).count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(byFile("gcc_errors.log") === 6)
    assert(byFile("cargo_build.log") === 3)
    assert(byFile("make_fail.log") === 3)
    // errors carry fingerprints, notes don't
    val fp = df.filter(col("severity") === "error").select("fingerprint").collect()
    assert(fp.forall(!_.isNullAt(0)))
  }
}
