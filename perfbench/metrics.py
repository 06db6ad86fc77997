"""Metric code of the benchmark: percentiles, span self time, layer
attribution and the failure ratio. Pure functions over the run record
that the harness writes; ``selfcheck()`` tests them on fixed inputs."""
import re
import statistics

# The engine layers whose calls the harness spans, and the per-layer
# counters reported for each.
LAYERS = [
    "operators.Relational", "operators.Windows", "operators.Grouping",
    "operators.Scalars", "operators.Advanced", "operators.Extras",
    "operators.Reshape", "operators.Storage", "operators.Graph",
    "operators.TextAnalysis", "operators.Curation", "operators.Dedup",
    "operators.Similarity", "multimodal.Multimodal", "streaming.Streams",
    "ml.Pipeline", "ml.Vectorize", "ml.LdaPipeline",
]
COUNTERS = [("busy_s", "s"), ("task_s", "s"), ("wait_s", "s"),
            ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB")]
SPECIALS = [
    ("Tables.read_mb", "MB"), ("Tables.records_read", "count"),
    ("ml.LdaPipeline.em_iter_p50_s", "s"), ("ml.LdaPipeline.online_job_p50_s", "s"),
    ("ml.LdaPipeline.save_s", "s"), ("ml.LdaPipeline.load_s", "s"),
    ("ml.GoldenReport.busy_s", "s"),
    ("streaming.Streams.batches", "count"), ("streaming.Streams.input_rows", "count"),
    ("streaming.Streams.state_rows", "count"), ("streaming.Streams.state_mb", "MB"),
    ("streaming.Streams.commit_s", "s"),
    ("MemoLru.persisted_rdds", "count"), ("MemoLru.storage_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.heap_retained_mb", "MB"),
]
PER_LAYER = [(f"{l}.{c}", u) for l in LAYERS for c, u in COUNTERS] + SPECIALS
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("first_pass_s", "s"),
              ("op_p50_s", "s"), ("op_p80_s", "s"), ("peak_rss_mb", "MB")]
# A Spark job belongs to the layer of the innermost engine source file on
# its call-site stack (e.g. "graft.ml.Vectorize$.fitIdf(Vectorize.scala:122)"
# below "org.apache.spark.ml.feature.IDF.fit(IDF.scala:55)"); jobs with
# no layer file on the stack (those the benchmark itself starts, and
# streaming micro-batches) fall back to the innermost span around them.
SITE_LAYER = {l.split(".")[-1] + ".scala": l for l in LAYERS}
SITE_LAYER["GoldenReport.scala"] = "ml.GoldenReport"
MB = 1048576.0


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) and how many samples lie above it."""
    xs = sorted(values)
    if not xs:
        return None, 0
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 1) - 1))
    v = xs[int(k)]
    return v, sum(1 for x in xs if x > v)


def failed_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


def clip_children(spans):
    """Nest spans into a tree of disjoint intervals: each child is clipped
    to its parent, and a child overlapping an earlier sibling starts where
    that sibling ends. Returns {id: (start, end)}."""
    out = {}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def walk(parent, lo, hi):
        cursor = lo
        for s in sorted(kids.get(parent, []), key=lambda s: (s["start"], s["id"])):
            a, b = max(s["start"], cursor, lo), min(s["end"], hi)
            b = max(a, b)
            out[s["id"]] = (a, b)
            cursor = b
            walk(s["id"], a, b)

    walk(-1, float("-inf"), float("inf"))
    return out


def self_times(spans):
    """Self time of each span: its duration minus what its children cover."""
    iv = clip_children(spans)
    child = {}
    for s in spans:
        a, b = iv[s["id"]]
        child[s["parent"]] = child.get(s["parent"], 0.0) + (b - a)
    return {s["id"]: (iv[s["id"]][1] - iv[s["id"]][0]) - child.get(s["id"], 0.0)
            for s in spans}


def site_layer(call_site):
    """Layer of the innermost layer source file in a job's call site."""
    for f in re.findall(r"([A-Za-z0-9_$]+\.scala):\d+", call_site):
        if f in SITE_LAYER:
            return SITE_LAYER[f]
    return None


def job_spans(spans, jobs, first_id):
    """One child span per job, under the innermost span open at its start."""
    out = []
    for i, j in enumerate(sorted(jobs, key=lambda j: j["start"])):
        holders = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if not holders:
            continue
        parent = max(holders, key=lambda s: (s["start"], s["id"]))
        layer = site_layer(j["call_site"]) or parent["layer"]
        out.append({"id": first_id + i, "parent": parent["id"], "name": f"job {j['job']}",
                    "layer": layer, "op": parent["op"], "pass": parent["pass"],
                    "start": j["start"], "end": min(j["end"], parent["end"]), "job": j})
    return out


def layer_metrics(run):
    """Per-layer metrics of a traced run, per traced pass."""
    traced = [p for p in run["passes"] if p["traced"]]
    n = max(1, len(traced))
    spans = run["spans"]
    jspans = job_spans(spans, run["jobs"], 1 + max([s["id"] for s in spans] or [0]))
    tree = spans + jspans
    st = self_times(tree)
    m = {name: 0.0 for name, _ in PER_LAYER}
    for s in tree:
        key = f"{s['layer']}.busy_s"
        if key in m:
            m[key] += st[s["id"]] / 1000.0
    stages = run["stages"]
    seen = set()
    read = recs = 0.0
    for js in jspans:
        layer = js["layer"]
        if f"{layer}.jobs" in m:
            m[f"{layer}.jobs"] += 1
        for sid in js["job"]["stages"]:
            a = stages.get(str(sid))
            if a is None or sid in seen:
                continue
            seen.add(sid)
            read += a[4]
            recs += a[5]
            if f"{layer}.tasks" in m:
                m[f"{layer}.tasks"] += a[0]
                m[f"{layer}.task_s"] += a[1] / 1000.0
                m[f"{layer}.wait_s"] += a[2] / 1000.0
                m[f"{layer}.shuffle_mb"] += a[3] / MB
    for name, _ in PER_LAYER:
        m[name] /= n
    m["Tables.read_mb"] = read / MB / n
    m["Tables.records_read"] = recs / n
    m["ml.GoldenReport.busy_s"] = sum(st[s["id"]] for s in tree
                                      if s["layer"] == "ml.GoldenReport") / 1000.0 / n

    def span_p50(name):
        d = [(s["end"] - s["start"]) / 1000.0 for s in spans if s["name"] == name]
        return statistics.median(d) if d else 0.0
    iters = [t for e in run["em_iterations"] if e["pass"] in {p["pass"] for p in traced}
             for t in e["times"]]
    m["ml.LdaPipeline.em_iter_p50_s"] = statistics.median(iters) if iters else 0.0
    online = [(j["end"] - j["start"]) / 1000.0 for j in run["jobs"]
              for s in spans if s["name"] == "LdaPipeline.train/online"
              and s["start"] <= j["start"] <= s["end"]]
    m["ml.LdaPipeline.online_job_p50_s"] = statistics.median(online) if online else 0.0
    m["ml.LdaPipeline.save_s"] = span_p50("LdaPipeline.save")
    m["ml.LdaPipeline.load_s"] = span_p50("LdaPipeline.load")
    batches = [b for b in run["batches"]
               if any(p["start"] - 1000 <= b["start"] <= p["end"] for p in traced)]
    m["streaming.Streams.batches"] = len(batches) / n
    m["streaming.Streams.input_rows"] = sum(b["input_rows"] for b in batches) / n
    m["streaming.Streams.state_rows"] = sum(b["state_rows"] for b in batches) / n
    m["streaming.Streams.state_mb"] = max([b["state_bytes"] for b in batches] or [0]) / MB
    m["streaming.Streams.commit_s"] = sum(b["commit_s"] for b in batches) / n
    m["MemoLru.persisted_rdds"] = max([x["persisted_rdds"] for x in run["memo"]] or [0])
    m["MemoLru.storage_mb"] = max([x["storage_bytes"] for x in run["memo"]] or [0]) / MB
    m["jvm.gc_s"] = sum(p["gc_s"] for p in traced) / n
    m["jvm.heap_retained_mb"] = run["heap_retained_mb"]
    return m


def accounting(run):
    """Traced wall time against the layers' busy time: the remainder is
    time between the benchmark's calls into the layers."""
    traced = [p for p in run["passes"] if p["traced"]]
    wall = sum(p["end"] - p["start"] for p in traced) / 1000.0
    roots = sum(s["end"] - s["start"] for s in run["spans"] if s["parent"] == -1) / 1000.0
    return {"traced_passes_s": wall, "spanned_s": roots, "unspanned_s": wall - roots}


def selfcheck():
    # percentile: 100 samples leave exactly ten beyond the 90th percentile
    v, beyond = percentile(list(range(1, 101)), 0.9)
    assert (v, beyond) == (90, 10), (v, beyond)
    v, beyond = percentile([3.0, 1.0, 2.0], 0.5)
    assert (v, beyond) == (2.0, 1), (v, beyond)
    # self time: parent 0..10 with children 2..5 and 4..8 (overlapping,
    # the second clipped to 5..8) and a grandchild 6..7
    spans = [
        {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 8.0},
        {"id": 3, "parent": 2, "start": 6.0, "end": 7.0},
        {"id": 4, "parent": 1, "start": 4.5, "end": 12.0},
    ]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.5, 2: 2.0, 3: 1.0, 4: 0.5}, st
    assert abs(sum(st.values()) - 10.0) < 1e-9
    # failure ratio
    assert failed_ratio(40, 1) == 0.025 and failed_ratio(0, 0) == 1.0
    # call-site attribution
    assert site_layer("fit at Vectorize.scala:122") == "ml.Vectorize"
    assert site_layer("treeAggregate at IDF.scala:55\n"
                      "org.apache.spark.ml.feature.IDF.fit(IDF.scala:55)\n"
                      "graft.ml.Vectorize$.fitIdf(Vectorize.scala:122)\n"
                      "graft.ml.LdaPipeline$.train(LdaPipeline.scala:57)") == "ml.Vectorize"
    assert site_layer("save at Harness.scala:90") is None
    assert len(PER_LAYER) == 124
    print("self-check ok")
