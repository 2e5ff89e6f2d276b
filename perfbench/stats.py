"""Statistics and span arithmetic of the benchmark (pure functions, tested by
`test_perfbench.py`)."""
import statistics

COUNTERS = ["jobs", "tasks", "task_cpu_s", "shuffle_write_bytes", "spill_bytes"]
# The per-layer metrics every workload reports. `sources` and `ingest` only
# build lazy plans, so their Spark work shows under the layer that runs it;
# `pipeline` runs Spark jobs in `rebuild` only, so the run totals carry it.
LAYERS = ["sources", "ingest", "model", "sparql", "pipeline"]
SPARK = ["jobs", "tasks", "task_cpu_s", "shuffle_write_bytes"]
PER_LAYER = ([f"{layer}.self_s" for layer in LAYERS] +
             [f"{layer}.{c}" for layer in ("model", "sparql") for c in SPARK] +
             [f"run.{c}" for c in SPARK + ["gc_s", "codegen_classes"]])


def median(values):
    return statistics.median(values)


def covered(intervals):
    """Length of the union of [start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """span id -> its duration minus the part of it its children cover (ns)."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        inner = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                 for c in kids.get(s["id"], [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered(inner)
    return out


def subtree(spans, root_id):
    kids = children_of(spans)
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        for c in kids.get(sid, []):
            out.append(c)
            todo.append(c["id"])
    return out


def counter_sum(counters, spans, name):
    """Sum of one listener counter over the given spans."""
    scale = 1e-9 if name == "task_cpu_s" else 1
    key = "task_cpu_ns" if name == "task_cpu_s" else name
    return sum(counters.get(str(s["id"]), {}).get(key, 0) for s in spans) * scale


def layer_metrics(spans, counters, jvm):
    """PER_LAYER metrics: self time per layer, the Spark counters of a
    layer's spans, and run totals (the listener's over every job, and the
    JVM's GC time and generated classes in `jvm`)."""
    st = self_times(spans)
    out = {}
    for name in PER_LAYER:
        scope, metric = name.split(".")
        mine = [s for s in spans if s["layer"] == scope]
        if metric == "self_s":
            out[name] = sum(st[s["id"]] for s in mine) / 1e9
        elif scope != "run":
            out[name] = counter_sum(counters, mine, metric)
        elif metric in jvm:
            out[name] = jvm[metric]
        else:
            out[name] = counter_sum(counters, [{"id": k} for k in counters], metric)
    return out
