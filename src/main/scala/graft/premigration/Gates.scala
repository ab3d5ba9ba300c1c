package graft.premigration

/** Environment/version gates the reference runs before any phase
  * (`/root/reference/Migration/migration.py:316-414`): MPX-coordinator
  * check, version acceptance (16.0 rejected, 16.1.01 uncompressed-only),
  * and the readonly probe. Each is a driver-side decision over engine
  * properties (the p8 property relation) — catalog-sized control logic,
  * like the reference's cursor-and-sys.exit code, but returned as data so
  * it is testable and reportable instead of process-exiting.
  */
object Gates {

  /** One gate outcome: proceed?, plus the decision detail. */
  final case class GateResult(gate: String, pass: Boolean, detail: String)

  /** An MPX topology row (sp_iqmpxinfo analog): role 'coordinator' |
    * 'writer' | 'reader', status/inc_state as in the reference. */
  final case class MpxNode(serverName: String, role: String,
      status: String, incState: String)

  /** migration.py:316-336: single-node → pass; multiplex → must be
    * connected to the coordinator; active included writers/readers add to
    * the parallel-extract node count, which the detail reports. */
  def mpxGate(nodes: Seq[MpxNode], connectedServer: String): GateResult = {
    if (nodes.isEmpty)
      GateResult("mpx_coordinator", pass = true, "single-node (simplex)")
    else {
      val coord = nodes.find(_.role == "coordinator").map(_.serverName)
      val secondaries = nodes.count(n =>
        n.status == "included" && n.incState == "active" &&
          (n.role == "writer" || n.role == "reader"))
      if (!coord.contains(connectedServer))
        GateResult("mpx_coordinator", pass = false,
          s"connected to $connectedServer, coordinator is ${coord.getOrElse("?")}")
      else
        GateResult("mpx_coordinator", pass = true,
          s"coordinator ok, $secondaries active secondary nodes")
    }
  }

  /** migration.py:352-378: 16.0 is rejected outright; 16.1.01 extracts
    * uncompressed without parallel gzip; anything newer compresses. The
    * detail names the compression decision. */
  def versionGate(version: String): GateResult =
    if (version.contains("SAP IQ/16.0."))
      GateResult("version", pass = false,
        "16.0 is not supported (no parallelized compressed extraction)")
    else if (version.contains("SAP IQ/16.1.01"))
      GateResult("version", pass = true,
        "16.1.01: text/binary extraction without compression")
    else
      GateResult("version", pass = true, "compressed parallel extraction")

  /** migration.py:383-414: if db_property('readonly') is On → proceed; if
    * Off, probe a write — a probe REFUSED by the engine (readonly dbspaces)
    * still proceeds; a probe that SUCCEEDS aborts unless the caller forced
    * write mode (`--mode w`), because a writable source can drift under the
    * migration. */
  def readonlyGate(readonlyProp: String, probeWriteSucceeds: () => Boolean,
      forceWriteMode: Boolean = false): GateResult =
    if (readonlyProp.equalsIgnoreCase("On"))
      GateResult("readonly", pass = true, "db_property(readonly)=On")
    else if (!probeWriteSucceeds())
      GateResult("readonly", pass = true,
        "readonly enforced by engine (-iqro dbspaces), probe refused")
    else if (forceWriteMode)
      GateResult("readonly", pass = true,
        "WARNING: database writable, proceeding under forced write mode")
    else
      GateResult("readonly", pass = false,
        "database is writable; start source readonly or force write mode")

  /** All gates over a property map + topology, sorted by gate name. */
  def evaluate(props: Map[String, String],
      nodes: Seq[MpxNode], connectedServer: String,
      probeWriteSucceeds: () => Boolean,
      forceWriteMode: Boolean = false): Seq[GateResult] = {
    Seq(mpxGate(nodes, connectedServer), versionGate(props.getOrElse("version", "")),
      readonlyGate(props.getOrElse("readonly", "Off"), probeWriteSucceeds, forceWriteMode))
      .sortBy(_.gate)
  }
}
