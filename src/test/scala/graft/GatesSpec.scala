package graft

import graft.premigration.Gates
import graft.premigration.Gates.MpxNode

/** Environment-gate branches (migration.py:316-414). */
class GatesSpec extends SparkTestBase {

  val mpx = Seq(
    MpxNode("coord1", "coordinator", "included", "active"),
    MpxNode("w1", "writer", "included", "active"),
    MpxNode("w2", "writer", "included", "active"),
    MpxNode("r1", "reader", "excluded", "active"))

  test("mpx gate: simplex passes; non-coordinator connection is rejected") {
    assert(Gates.mpxGate(Seq.empty, "any").pass)
    val bad = Gates.mpxGate(mpx, "w1")
    assert(!bad.pass && bad.detail.contains("coordinator is coord1"))
    val ok = Gates.mpxGate(mpx, "coord1")
    assert(ok.pass && ok.detail.contains(" 2 active secondary nodes")) // excluded reader doesn't count
  }

  test("version gate: 16.0 rejected, 16.1.01 uncompressed, newer compressed") {
    val rej = Gates.versionGate("SAP IQ/16.0.110.3")
    assert(!rej.pass)
    val old = Gates.versionGate("SAP IQ/16.1.01.100")
    assert(old.pass && old.detail.contains("without compression"))
    val nu = Gates.versionGate("SAP IQ/16.1.04")
    assert(nu.pass && nu.detail.startsWith("compressed"))
  }

  test("readonly gate: On passes, refused probe passes, writable aborts unless forced") {
    assert(Gates.readonlyGate("On", () => fail("must not probe when On")).pass)
    assert(Gates.readonlyGate("Off", () => false).pass)
    assert(!Gates.readonlyGate("Off", () => true).pass)
    assert(Gates.readonlyGate("Off", () => true, forceWriteMode = true).pass)
  }

  test("evaluate produces the full gate relation") {
    val gates = Gates.evaluate(Map("version" -> "SAP IQ/16.1.04", "readonly" -> "On"),
      Seq.empty, "solo", () => true)
    val rows = gates.map(g => g.gate -> g.pass).toMap
    assert(rows == Map("mpx_coordinator" -> true, "version" -> true, "readonly" -> true))
  }

  test("evaluate starts no Spark job and sorts by gate") {
    var gates = Seq.empty[Gates.GateResult]
    assert(jobsOf { gates = Gates.evaluate(Map("version" -> "SAP IQ/16.0.110"), mpx, "w1",
      () => true) } == 0)
    assert(gates.map(_.gate) == Seq("mpx_coordinator", "readonly", "version"))
    assert(gates.map(_.pass) == Seq(false, false, false))
  }

  test("option audit: full-cardinality intersections + empty-intersection fallthrough") {
    import graft.premigration.{OptionAudit, OptionsFixture}
    import org.apache.spark.sql.functions.col
    val chk = OptionsFixture.checkOptionsDF(spark)
    assert(OptionsFixture.dbOptsNoncustomer.size == 108)
    assert(OptionsFixture.hosParamsNoncustomer.size == 663)
    val sa = OptionAudit.unsupportedOptions(chk, OptionsFixture.dbOptsNoncustomer, "c").collect()
    assert(sa.length == 27 && sa.forall(_.getString(0).startsWith("sa_opt_")))
    val iq = OptionAudit.unsupportedOptions(chk, OptionsFixture.hosParamsNoncustomer, "c").collect()
    assert(iq.length == 94 && iq.forall(_.getString(0).startsWith("iq_hos_")))
    // duplicates deduped: sa_opt_004 appears twice Permanent, reported once
    assert(sa.count(_.getString(0) == "sa_opt_004") == 1)
    // non-Permanent rows never surface even when listed
    assert(!sa.exists(_.getString(0) == "sa_opt_002"))
    // reference fallthrough (pre_migration.py:669-673): empty intersection
    // reports the ENTIRE distinct Permanent census
    val census = chk.filter(col("option_type") === "Permanent")
      .select("option_name").distinct().count()
    val none = OptionAudit.unsupportedOptions(chk, Seq("no_such_option"), "c").collect()
    assert(none.length == census)
  }

  test("feature audit covers the reference's full check dispatch") {
    import graft.premigration.FeatureAudit
    val rows = FeatureAudit.findings(spark).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    // every fixture trigger fires exactly once per triggering row
    assert(rows.size == 26, s"got ${rows.size}: ${rows.map(_._1).mkString(",")}")
    val features = rows.map(_._1).toSet
    // the 21 dispatched checks (pre_migration.py:856-905) + per-row tails
    val expected = Set(
      "Multiple_DBSpaces", "RLV_Support", "Current_IQ_Version not 16.1",
      "DB_Encryption Enabled", "Non-SAP remote source", "SAP remote source",
      "External_UDF", "Reserved_User_Names", "DBA_user", "Certificates",
      "External_Environment", "External_Environment_Objects",
      "Spatial_Unit_Of_Measure", "SQLA_Tables", "LF_INDEXES", "HNG_INDEXES",
      "LOCAL_DBFILES", "Logical_Servers", "DQP_Enabled", "IQ_SHARED_TEMP",
      "Web_Services", "MPX_Readers_Present", "StartupOptions",
      "MPX_options", "MPX_test_options", "Temp_Extract_Directory")
    assert(features == expected, s"diff: ${(features -- expected) ++ (expected -- features)}")
    // action_required mirrors the reference's two lists: these land on the
    // action list (pre_migration.py appends to features_list_action)
    val action = rows.filter(_._2).map(_._1).toSet
    assert(action == Set("RLV_Support", "Current_IQ_Version not 16.1",
      "SAP remote source", "External_UDF", "External_Environment",
      "External_Environment_Objects", "Spatial_Unit_Of_Measure",
      "SQLA_Tables", "Logical_Servers"))
  }
}
