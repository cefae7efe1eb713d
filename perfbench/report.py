"""Per-layer metrics and the one-screen report of a traced run.

A span is (id, op, name, parent, start_ns, end_ns); its self time is its
duration minus that of its children. Layer metrics named `<span>_s` are the
summed self times of the spans with that name; `ops.<family>_s` are the
families' inclusive walls. Counters come from the JVM's listener and from
the benchmark's own `trace.counters` spans. Every value is per pass: one
ETL process, one append cycle, or one pass over the slice.
"""
import json
import statistics
from collections import defaultdict

CORES = 4
FAMILIES = ["relational", "dedup", "similarity", "graph", "text", "events", "git"]
TABLES = ["commits", "authors", "file_changes", "tags", "repos"]
SELF_TIME = ["Main.discover", "GitCli.probe", "GitCli.extract", "GitCli.tags_files",
             "GitParse.parse", "Validate.validate", "GitAgg.dedup", "GitAgg.aggregate",
             "Pipeline.write", "Pipeline.rollback", "Pipeline.flip_gc", "Pipeline.compact",
             "spark.build", "spark.plan"]
COUNTS = ["GitCli.extract_tasks", "GitCli.raw_bytes", "GitCli.repos_missing",
          "GitCli.max_row_bytes", "GitParse.commits_out", "GitParse.file_changes_out",
          "Validate.rejects", "Pipeline.bytes_written", "Pipeline.write_amp",
          "Pipeline.store_files", "spark.codegen_s", "spark.jobs", "spark.stages",
          "spark.tasks", "spark.plan_nodes", "spark.exec_s", "spark.task_s",
          "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
          "StreamGate.triggers"]


def slice_metric(name):
    """Metrics a traced etl-append run takes from its operator slice rather
    than from its append cycles."""
    return name.startswith(("ops.", "StreamGate.")) or name in (
        "spark.build_s", "spark.plan_s", "spark.plan_nodes")


def unit(name):
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("ratio", "share", "amp", "per_trigger")):
        return "ratio"
    return "count"


class TraceRun:
    def __init__(self, spans, counters, passes, traced_s, untraced_s=None,
                 process_s=None, trigger_ms=()):
        self.spans = spans
        self.counters = counters
        self.passes = max(passes, 1)
        self.traced_s = traced_s
        self.untraced_s = untraced_s
        self.process_s = process_s
        self.trigger_ms = list(trigger_ms)
        child = defaultdict(float)
        for s in spans:
            child[s["parent"]] += (s["end_ns"] - s["start_ns"]) / 1e9
        self.self_s = defaultdict(float)
        self.incl_s = defaultdict(float)
        self.root_s = 0.0
        for s in spans:
            dur = (s["end_ns"] - s["start_ns"]) / 1e9
            self.incl_s[s["name"]] += dur
            if s["parent"] == -1:
                self.root_s += dur
            # A root's own time is covered by no named layer.
            key = "(unattributed)" if s["parent"] == -1 and s["name"] != "trace.counters" \
                else s["name"]
            self.self_s[key] += dur - child[s["id"]]

    def metrics(self):
        n, c, own = self.passes, self.counters, self.self_s
        m = {name + "_s": own[name] / n for name in SELF_TIME}
        for t in TABLES:
            m["Pipeline.publish_s." + t] = own["Pipeline.publish." + t] / n
        m["Pipeline.snapshot_resolve_ms"] = 1000 * own["Pipeline.snapshot_resolve"] / n
        for f in FAMILIES:
            m["ops.%s_s" % f] = self.incl_s["ops." + f] / n
        for k in COUNTS:
            m[k] = c.get(k, 0.0) / n
        m["GitAgg.dedup_kept_ratio"] = (c["GitAgg.dedup_rows_out"] / c["GitAgg.dedup_rows_in"]
                                        if c.get("GitAgg.dedup_rows_in") else 0.0)
        m["spark.busy_share"] = (c.get("spark.task_s", 0.0) / (c["spark.exec_s"] * CORES)
                                 if c.get("spark.exec_s") else 0.0)
        m["StreamGate.trigger_p50_ms"] = (statistics.median(self.trigger_ms)
                                          if self.trigger_ms else 0.0)
        m["StreamGate.jobs_per_trigger"] = (c.get("StreamGate.jobs", 0.0) / c["StreamGate.triggers"]
                                            if c.get("StreamGate.triggers") else 0.0)
        m["trace.unattributed_s"] = own["(unattributed)"] / n
        m["trace.counters_s"] = own["trace.counters"] / n
        return m

    def render(self, workload, path, overhead=True):
        total = sum(self.self_s.values())
        lines = ["== traced %s: %d pass(es), per pass below; spans in %s" % (
            workload, self.passes, path),
            "  %-28s %10s %7s" % ("span (layer.step)", "self_s", "share")]
        for name, v in sorted(self.self_s.items(), key=lambda kv: -kv[1]):
            lines.append("  %-28s %10.3f %6.1f%%" % (name, v / self.passes,
                                                    100 * v / total if total else 0))
        lines.append("  %-28s %10.3f   (all spans)" % ("total", self.root_s / self.passes))
        if self.process_s is not None:
            lines.append("  process wall %.3f s, outside spans (JVM start/stop) %.3f s" % (
                self.process_s, self.process_s - self.root_s))
        if overhead and self.untraced_s is None:
            lines.append("  tracing overhead: no untraced run of this workload in this "
                         "checkout yet")
        elif overhead:
            lines.append("  tracing overhead: traced %.3f s - untraced median %.3f s = %.3f s" % (
                self.traced_s, self.untraced_s, self.traced_s - self.untraced_s))
        m = self.metrics()
        counts = ["%s=%.4g" % (k, v) for k, v in sorted(m.items())
                  if (unit(k) not in ("s", "ms") or k.startswith(("ops.", "StreamGate.", "spark.")))
                  and v]
        for i in range(0, len(counts), 4):
            lines.append("  " + "  ".join(counts[i:i + 4]))
        return "\n".join(lines)

    def save(self, path):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters,
                       "trigger_ms": self.trigger_ms, "passes": self.passes,
                       "traced_s": self.traced_s, "untraced_s": self.untraced_s}, f)
