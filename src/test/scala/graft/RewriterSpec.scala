package graft

import graft.rewrite.{ReloadFixture, Rewriter}

class RewriterSpec extends SparkTestBase {

  lazy val out = Rewriter.rewrite(ReloadFixture.lines).sortBy(_.line_no)

  test("segmentation assigns one stmt_id per go-delimited statement") {
    // fixture has 12 `go` lines → statements 0..11; every line belongs to
    // the statement whose `go` closes it (the go line included)
    val goLines = ReloadFixture.lines.zipWithIndex.filter(_._1.trim.equalsIgnoreCase("go"))
    assert(goLines.size == 12)
    val byLine = out.map(l => l.line_no -> l.stmt_id).toMap
    // first statement: lines 0-2 (header comment + SET + go)
    assert(byLine(0L) == 0 && byLine(2L) == 0)
    // line after the first go starts stmt 1
    assert(byLine(3L) == 1)
    // last line (final go) is in the last statement
    assert(byLine((ReloadFixture.lines.size - 1).toLong) == 11)
  }

  test("artifact rules comment the unsupported statement classes") {
    def stmtOf(snippet: String): Long =
      out.find(_.text.contains(snippet)).getOrElse(fail(s"line with '$snippet' missing")).stmt_id
    val commented = out.filter(_.commented).map(_.stmt_id).toSet
    assert(commented.contains(stmtOf("CREATE TEXT CONFIGURATION")))
    assert(commented.contains(stmtOf("EXTERNAL NAME")))
    assert(commented.contains(stmtOf("FOR HNG")))
    assert(commented.contains(stmtOf("password values")))
    // plain CREATE TABLE / VIEW / COMMIT lines stay (the password blanket
    // may comment blank padding inside a neighbor statement, so assert on
    // the content lines, not the statement ids)
    assert(!out.filter(_.text.contains("CREATE VIEW")).exists(_.commented))
    assert(!out.filter(_.text.contains("COMMIT WORK")).exists(_.commented))
  }

  test("CREATE DOMAIN is kept with the AS USER suffix stripped (C3)") {
    val domainLine = out.find(_.text.contains("CREATE DOMAIN"))
      .getOrElse(fail("domain line missing"))
    assert(!domainLine.commented && !domainLine.is_fk)
    assert(!domainLine.text.contains("AS USER"))
    assert(domainLine.text.contains("NUMERIC(18,2)"))
  }

  test("login policy rewrite clones root and reassigns non-admin users (C4)") {
    val out = Rewriter.loginPolicyRewrite(
      rootOptions = Map("max_failed_login_attempts" -> "10", "locked" -> "OFF"),
      defaults = Map("max_failed_login_attempts" -> "5", "locked" -> "OFF"),
      users = Seq("analyst", "DBA", "etl_user"))
    assert(out.head.startsWith("CREATE LOGIN POLICY \"c_root\""))
    assert(out.head.contains("max_failed_login_attempts=10"))
    assert(!out.head.contains("locked")) // unchanged options not cloned
    assert(out.count(_.startsWith("ALTER USER")) == 2) // DBA excluded
    // no deviation → no rewrite at all
    assert(Rewriter.loginPolicyRewrite(
      Map("a" -> "1"), Map("a" -> "1"), Seq("u")).isEmpty)
  }

  test("foreign key statements are split out, not commented") {
    val fkLines = out.filter(_.is_fk)
    assert(fkLines.nonEmpty)
    assert(fkLines.forall(l => !l.commented))
    assert(fkLines.exists(_.text.contains("FOREIGN KEY")))
    assert(fkLines.exists(_.text.contains("REFERENCES")))
  }

  test("word-replace rules rewrite every line, FK and commented included") {
    // kept CREATE TABLE had owner "DBA" and dbspace IQ_SYSTEM_MAIN
    val kept = out.filter(l => !l.commented && !l.is_fk).map(_.text).mkString("\n")
    assert(kept.contains("\"HDLADMIN\".\"customer\""))
    assert(kept.contains("user_object_store"))
    assert(!kept.contains("IQ_SYSTEM_MAIN"))
    // the reference's replace pass runs over ALL lines (migration.py:
    // 1286-1293) and derives the FK file from the replaced text, so the
    // deferred FK DDL must target the RENAMED objects
    val fkText = out.filter(_.is_fk).map(_.text).mkString("\n")
    assert(fkText.contains("HDLADMIN"), "FK DDL kept the pre-rename owner")
    assert(!fkText.contains("DBA"))
    val commentedText = out.filter(_.commented).map(_.text).mkString("\n")
    assert(commentedText.contains("CREATE TEXT CONFIGURATION"))
  }

  test("procedure sweep: a proc with a line-commented artifact is fully commented") {
    // `call dbo.sa_sync` inside sync_all is hit by a line rule; the sweep
    // (migration.py:1248-1283) must then comment the WHOLE procedure, not
    // leave a broken-but-uncommented body
    val procLines = out.filter(l =>
      l.text.contains("sync_all") || l.text.contains("sa_sync") ||
        (l.stmt_id == out.find(_.text.contains("sync_all")).get.stmt_id))
    assert(procLines.nonEmpty)
    assert(procLines.forall(_.commented),
      s"procedure not fully swept: ${procLines.filterNot(_.commented).map(_.text)}")
    // the external-name proc was already statement-commented, not swept
    assert(out.filter(_.text.contains("EXTERNAL NAME")).forall(_.commented))
  }

  test("password blanket comments the matching line and its +-4 neighbors") {
    val grant = out.find(_.text.contains("password values")).get
    val near = out.filter(l =>
      l.line_no >= grant.line_no - 4 && l.line_no <= grant.line_no + 4)
    assert(near.forall(_.commented), "blanket left a neighbor uncommented")
    // the next real statement (CREATE VIEW) sits outside the blanket radius
    assert(out.filter(_.text.contains("CREATE VIEW")).forall(l => !l.commented))
  }

  test("catalog-assembled rules comment dbo/_sap_ objects and dependent views") {
    import graft.rewrite.RuleAssembly
    val assembled = RuleAssembly.toRules(RuleAssembly.fixture)
    // multilevel closure: v_audit2 depends on audit_log only through v_audit
    assert(assembled.exists(r => r.pattern == "v_audit2" && r.pat1.contains("CREATE VIEW")))
    // LIKE-ESCAPE owner matching: xsap_ops matches '_sap\_%', sapling does not
    assert(assembled.exists(r => r.pattern == "ops_log"))
    assert(!assembled.exists(r => r.pattern.contains("sapling")))
    // SA-server tables are excluded; DBA-owned views are not commented
    assert(!assembled.exists(r => r.pattern == "audit_proxy"))
    assert(!assembled.exists(r => r.pattern == "v_orders"))
    val script = Seq(
      "CREATE TABLE \"dbo\".\"audit_log\" (x INTEGER)",
      "go",
      "CREATE VIEW \"DBA\".\"v_audit2\" AS SELECT * FROM \"DBA\".\"v_audit\"",
      "go",
      "CREATE TABLE \"DBA\".\"orders2\" (y INTEGER)",
      "go")
    val res = Rewriter.rewrite(script,
      rules = Rewriter.defaultRules ++ assembled).sortBy(_.line_no)
    assert(res.filter(_.text.contains("audit_log")).forall(_.commented))
    assert(res.filter(_.text.contains("v_audit2")).forall(_.commented))
    assert(res.filter(_.text.contains("orders2")).forall(l => !l.commented))
  }

  test("rule assembly walks a view-dependency cycle and keeps SQL LIKE semantics") {
    import graft.rewrite.RuleAssembly
    val rules = RuleAssembly.assemble(
      users = Seq((1, "dbo"), (2, "Xsap_ops"), (3, "sap_"), (4, "_sap_x")),
      tables = Seq((1, 101, "t", 1, "BASE", "IQ"), (2, 102, "u", 2, "BASE", "IQ")),
      indexes = Nil, triggers = Nil,
      procs = Seq(("sp", 1), ("spx", 1), ("sap_loader", 1), ("Sa_upper", 1)),
      objects = Seq((101, "t"), (201, "v1"), (202, "v2")),
      // v1 → t, v2 → v1, and v1 → v2 closes a cycle
      deps = Seq((201, 101), (202, 201), (201, 202)))
    def has(pattern: String, pat1: String) = rules.exists(r => r.pattern == pattern && r.pat1 == pat1)
    assert(has("v1", "CREATE VIEW") && has("v2", "CREATE VIEW"))
    // '_sap\_%': any one character, then a literal sap_, case-folded
    assert(has("u", "CREATE TABLE"))
    assert(rules.filter(_.pat1 == "GRANT CONNECT").map(_.pattern).toSet == Set("Xsap_ops", "_sap_x"))
    // 'sp_%' and 'sa_%' need a character after the prefix and match case
    assert(has("sp", "CREATE procedure") && has("Sa_upper", "CREATE procedure"))
    assert(!has("spx", "CREATE procedure") && !has("sap_loader", "CREATE procedure"))
    assert(rules.distinct == rules)
  }

  test("charset-aware rule source: Latin-1 bytes decode faithfully (S4/C3)") {
    import graft.rewrite.RuleSource
    val dir = java.nio.file.Files.createTempDirectory("graft_charset")
    val f = dir.resolve("rules_latin1.list")
    // 'Straße' and 'Müller' contain 0xDF / 0xFC — valid Latin-1, invalid UTF-8
    val content = "Straße,STRASSE\nMüller,HDLADMIN\nCREATE INDEX,COMMENT,HNG\n"
    java.nio.file.Files.write(f,
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val (rules, replaces) = RuleSource.load(spark.sparkContext.hadoopConfiguration, f.toString, encoding = "ISO-8859-1")
    assert(replaces.contains(Rewriter.Replace("Straße", "STRASSE")))
    assert(replaces.contains(Rewriter.Replace("Müller", "HDLADMIN")))
    assert(rules.exists(r => r.pattern == "CREATE INDEX" && r.pat1.contains("HNG")))
    // and the same bytes read as UTF-8 must NOT round-trip (proves the
    // encoding option is actually honored, not silently ignored)
    val (_, wrong) = RuleSource.load(spark.sparkContext.hadoopConfiguration, f.toString, encoding = "UTF-8")
    assert(!wrong.contains(Rewriter.Replace("Straße", "STRASSE")))
  }

  test("charset detection: property-driven, EUC-JP fallback, bytes→rules fidelity") {
    import graft.rewrite.RuleSource
    // the detection branches (common.py:338-347)
    assert(RuleSource.detectCharset(Map("Charset" -> "ISO_8859-1:1987")) == "ISO_8859-1:1987")
    assert(RuleSource.detectCharset(Map("Charset" -> " UTF-8 ")) == "UTF-8")
    assert(RuleSource.detectCharset(
      Map("Charset" -> "Extended_UNIX_Code_Packed_Format_for_Japanese")) == "EUC-JP")
    assert(RuleSource.detectCharset(Map.empty) == "UTF-8")
    // a packed-Japanese database's rule file decodes through the detected
    // charset: 東京 / 大阪 are multi-byte in EUC-JP and NOT valid UTF-8
    val cs = RuleSource.detectCharset(
      Map("Charset" -> "Extended_UNIX_Code_Packed_Format_for_Japanese"))
    val dir = java.nio.file.Files.createTempDirectory("graft_eucjp")
    val f = dir.resolve("rules_eucjp.list")
    val content = "東京テーブル,COMMENT,HNG\n大阪,OSAKA\n"
    java.nio.file.Files.write(f, content.getBytes(java.nio.charset.Charset.forName(cs)))
    val (rules, replaces) = RuleSource.load(spark.sparkContext.hadoopConfiguration, f.toString, encoding = cs)
    assert(rules.exists(r => r.pattern == "東京テーブル" && r.pat1.contains("HNG")))
    assert(replaces.contains(Rewriter.Replace("大阪", "OSAKA")))
    // same bytes as UTF-8 must not round-trip (the charset is load-bearing)
    val (wrongRules, _) = RuleSource.load(spark.sparkContext.hadoopConfiguration, f.toString, encoding = "UTF-8")
    assert(!wrongRules.exists(_.pattern == "東京テーブル"))
  }

  test("segmentation invariants hold on randomized scripts (C1 property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val lineGen = Gen.frequency(
      5 -> Gen.alphaNumStr.map(s => s"STATEMENT $s"),
      2 -> Gen.const("go"),
      1 -> Gen.const("  GO  "),
      1 -> Gen.const(""),
      1 -> Gen.const("-- comment"))
    val prop = Prop.forAll(Gen.listOfN(40, lineGen)) { lines =>
      val seg = Rewriter.rewrite(lines).sortBy(_.line_no)
      val stmtIds = seg.map(_.stmt_id)
      val gos = lines.map(l => if (l.trim.equalsIgnoreCase("go")) 1 else 0)
      // monotone non-decreasing, steps of exactly the preceding go count
      val monotone = stmtIds.zip(stmtIds.tail).forall { case (a, b) => b == a || b == a + 1 }
      val firstIsZero = stmtIds.headOption.forall(_ == 0)
      // stmt id == number of go lines strictly before the line
      val exact = seg.indices.forall(i => stmtIds(i) == gos.take(i).count(_ == 1))
      monotone && firstIsZero && exact
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("--onlyschema writes both scripts without starting a Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_onlyschema").toString
    assert(jobsOf(graft.cli.Main.onlySchema(spark, dir)) == 0)
    val (main, fk) = Rewriter.serialize(out.toSeq)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/AutoUpdated_Reload.sql")) == main)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/Foreign_Key_Constraint.sql")) == fk)
  }

  test("serialization brackets with sentinels and prefixes comments") {
    val (main, fk) = Rewriter.serialize(out.toSeq)
    assert(main.startsWith("-- Begin AutoUpdated_Reload"))
    assert(main.trim.endsWith("-- Completed AutoUpdated_Reload"))
    assert(main.contains("-- Begin unsupported statement"))
    assert(main.contains("-- CREATE TEXT CONFIGURATION"))
    assert(fk.contains("FOREIGN KEY"))
    assert(fk.trim.endsWith("-- Completed Foreign_Key_Constraint"))
    // completeness invariant (migration.py:1301-1336): every input line
    // yields exactly one output record, and its serialized form is either
    // the original text or its word-replaced rewrite
    assert(out.length == ReloadFixture.lines.size)
    ReloadFixture.lines.foreach { l =>
      val replaced = l.replaceAll("(?i)\\bDBA\\b", "HDLADMIN")
        .replaceAll("(?i)\\bIQ_SYSTEM_MAIN\\b", "user_object_store")
      val stripped = replaced.replaceAll("(?i)\\s+AS USER\\s+.*$", "")
      assert(main.contains(l) || main.contains(replaced) || main.contains(stripped),
        s"missing line: $l")
    }
  }
}
