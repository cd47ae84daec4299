package graftbench

/** Human-readable tables of a traced run: each layer call of the cold
  * pass and of the last traced warm pass and resume, with its self time
  * (wall minus the Spark jobs under it) and the engine counters the call
  * caused.
  */
object Report {
  def tables(tracer: Tracer, workload: String): Unit = {
    val all = tracer.allSpans
    val self = tracer.selfMs(all)
    def table(title: String, passId: Int): Unit = if (passId >= 0) {
      println(s"$workload $title")
      println(f"  ${"call"}%-32s ${"wall_ms"}%9s ${"self_ms"}%9s ${"jobs"}%5s ${"stages"}%6s " +
        f"${"tasks"}%6s ${"cpu_s"}%7s ${"shufW_MB"}%8s ${"shufR_MB"}%8s ${"plan_ms"}%7s " +
        f"${"cg_n"}%5s ${"cg_ms"}%7s ${"skew"}%6s ${"leaked"}%6s")
      tracer.callsOf(passId).foreach { case (s, e) =>
        println(f"  ${s.name}%-32s ${s.ms}%9.1f ${self(s.id)}%9.1f ${e.jobs}%5d ${e.stages}%6d " +
          f"${e.tasks}%6d ${e.cpuNs / 1e9}%7.2f ${e.shuffleWrite / 1048576.0}%8.2f " +
          f"${e.shuffleRead / 1048576.0}%8.2f ${e.planningMs}%7d ${e.codegenCompiles}%5d " +
          f"${e.codegenMs}%7.1f ${e.skew}%6.2f ${e.persistedAfter}%6d")
      }
    }
    val passes = tracer.passIds("pass")
    val resumes = tracer.passIds("resume")
    table("cold pass (traced)", passes.headOption.getOrElse(-1))
    table("cold resume (traced)", resumes.headOption.getOrElse(-1))
    if (passes.length > 1) table("last traced warm pass", passes.last)
    if (resumes.length > 1) table("last traced warm resume", resumes.last)
    val crawls = tracer.passIds("crawl")
    if (crawls.length > 1) table("crawl probe, warm crawl", crawls(1))
  }
}
