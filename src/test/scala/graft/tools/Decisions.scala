package graft.tools

import graft.Decision

/** Renders captured [[Decision]]s in the strings the probe artifacts
  * have always printed: "kept/total", "all" for a scan-routed fetch,
  * and "n/a" for a step that never ran. The last record of an op wins,
  * as one call can prune several tables. */
object Decisions {
  def route(ds: Seq[Decision], op: String): String =
    ds.findLast(_.op == op).fold("n/a")(_.route)

  def ratio(ds: Seq[Decision], op: String): String =
    ds.findLast(_.op == op).fold("n/a") { d =>
      if (d.op == "grep.fetch" && d.route == "scan") "all"
      else s"${d.kept}/${d.total}"
    }
}
