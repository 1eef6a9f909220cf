"""Correctness checks and metric assembly for the DICOM ETL benchmark.

`judge(expected, result, trace)` compares what the harness observed against
what the generator says the program must produce, and turns the harness's
timings into the metrics declared in BENCHMARK.json.
"""
import math
import statistics

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "images_per_s": "images/s",
    "time_to_queryable_s": "s",
    "out_files": "count",
    "out_mb": "MB",
    "dicom_read_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "ingest.expand_s": "s",
    "ingest.expand_mb_per_s": "MB/s",
    "ingest.members": "count",
    "ingest.ignored": "count",
    "ingest.read_amplification": "ratio",
    "dicom.parse_us_per_image": "us",
    "dicom.flatten_us_per_image": "us",
    "dicom.elements_per_image": "count",
    "dicom.values_per_image": "count",
    "pipeline.list_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.finalize_s": "s",
    "pipeline.write_s": "s",
    "pipeline.catalog_s": "s",
    "pipeline.first_query_s": "s",
    "pipeline.partitions": "count",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.busy_share": "ratio",
    "pipeline.input_mb": "MB",
    "pipeline.shuffle_mb": "MB",
    "pipeline.spill_mb": "MB",
    "pipeline.persist_mb": "MB",
    "pipeline.gc_s": "s",
    "pipeline.errors.route": "count",
    "pipeline.errors.expand": "count",
    "pipeline.errors.parse": "count",
    "pipeline.errors.transform": "count",
    "sources.infer_s": "s",
    "sources.scan_s": "s",
    "sources.tasks": "count",
    "sources.rows": "count",
    "streaming.batches": "count",
    "streaming.objects_per_batch_p50": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.discovery_ms_p50": "ms",
    "trace.span_coverage": "ratio",
    "trace.overhead_s": "s",
}

STAGES = ("route", "expand", "parse", "transform")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- correctness

def check_output(exp, obs, problems, label):
    """Compare one written table (plus its error records) with the
    expectations. Returns (attempted, failed): every expected image, every
    expected error record, the pruned count, the dicom read and each sampled
    row is one operation; every missing, extra or wrong one is a failure."""
    attempted = failed = 0
    hist, want = obs.get("hist", {}), exp["date_hist"]
    for d in set(hist) | set(want):
        attempted += want.get(d, 0)
        diff = abs(hist.get(d, 0) - want.get(d, 0))
        if diff:
            failed += diff
            problems.append("%s: study_date %s has %d rows, expected %d"
                            % (label, d, hist.get(d, 0), want.get(d, 0)))
    errors = obs.get("errors", {})
    for stage in set(errors) | set(STAGES):
        n, w = errors.get(stage, 0), exp["errors"].get(stage, 0)
        attempted += w
        if n != w:
            failed += abs(n - w)
            problems.append("%s: %d %s errors, expected %d" % (label, n, stage, w))
    attempted += 1
    if obs.get("probe_count") != exp["probe_count"]:
        failed += 1
        problems.append("%s: pruned count %s, expected %d"
                        % (label, obs.get("probe_count"), exp["probe_count"]))
    attempted += 1
    counts = [obs.get("read_rows")] + list(obs.get("read_counts", []))
    if len(counts) != 4 or any(c != exp["read_images"] for c in counts):
        failed += 1
        problems.append("%s: dicom read counted %s, expected %d rows"
                        % (label, counts, exp["read_images"]))
    got = {s["sop"]: s for s in obs.get("samples", [])}
    for s in exp["samples"]:
        attempted += 1
        g = got.get(s["sop"])
        want_row = {k: s[k] for k in ("study_date", "patient_name", "physicians",
                                      "calibration", "position", "smallest", "ref_sop")}
        if g is None or {k: g.get(k) for k in want_row} != want_row:
            failed += 1
            problems.append("%s: sample %s is %s, expected %s" % (label, s["sop"], g, want_row))
    return attempted, failed


def check_stream_commits(stream, problems, label):
    """Every fed object must sit in a committed micro-batch."""
    committed = set(stream["committed"])
    missing = [f for f, b in zip(stream["feed"], stream["batch_of"]) if b not in committed]
    if missing:
        problems.append("%s: %d objects never committed, e.g. %s"
                        % (label, len(missing), missing[:3]))
    return len(stream["feed"]), len(missing)


def check_warmup(exp, warmup, problems):
    attempted = failed = 0
    for k, w in enumerate(warmup):
        for key, want in (("rows", exp["warmup"]["images"]),
                          ("read_rows", exp["warmup"]["read_images"])):
            if key not in w:  # only the first round reads
                continue
            attempted += 1
            if w[key] != want:
                failed += 1
                problems.append("warm-up %d: %s = %s, expected %d" % (k, key, w[key], want))
    return attempted, failed


# ---------------------------------------------------------------- metrics

def burst_latencies(s):
    """Measured burst (burst 0 warms the query) -> its objects' latencies
    in ms: from when the burst was published until the end of the
    micro-batch that committed the object."""
    end = {p["batch"]: p["end_ms"] for p in s["progress"]}
    out = {}
    for b, k in zip(s["batch_of"], s["burst_of"]):
        if k >= 1 and b in end:
            out.setdefault(k, []).append(end[b] - s["written_ms"][k])
    return out


def stream_layers(s):
    by_batch = {}
    for b in s["batch_of"]:
        by_batch[b] = by_batch.get(b, 0) + 1
    held = [p for p in s["progress"] if p["batch"] in by_batch]
    start = {p["batch"]: p["start_ms"] for p in held}
    # discovery: from a burst's publication to the start of its first batch
    first = {}
    for b, k in zip(s["batch_of"], s["burst_of"]):
        if b in start:
            first[k] = min(first.get(k, math.inf), start[b])
    discovery = [t - s["written_ms"][k] for k, t in first.items()]

    def dur(key):
        return median([p["durations"].get(key, 0) for p in held])
    return {
        "streaming.batches": len(by_batch),
        "streaming.objects_per_batch_p50": median(list(by_batch.values())),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.commit_ms_p50": dur("commitOffsets"),
        "streaming.discovery_ms_p50": median(discovery),
    }


def end_to_end(exp, result):
    m = {"setup_s": median(result["setup_s"]), "peak_rss_mb": result["peak_rss_mb"]}
    if "stream" in result:
        s = result["stream"][0]
        lat = burst_latencies(s)
        # images of the measured bursts per second of their time in flight
        in_flight = sum(max(v) for v in lat.values()) / 1e3
        m.update({
            "images_per_s": sum(exp["burst_images"][1:]) / in_flight if in_flight else 0.0,
            "time_to_queryable_s": median([x for v in lat.values() for x in v]) / 1e3,
            "out_files": s["out_files"],
            "out_mb": s["out_bytes"] / 2**20,
            "dicom_read_s": median(s["read_s"]),
        })
    else:
        its = [i for i in result["iterations"] if not i["traced"] and not i["warm"]]
        m.update({
            "images_per_s": median([sum(i["hist"].values()) / i["run_s"] for i in its]),
            "time_to_queryable_s": median([i["ttq_s"] for i in its]),
            "out_files": median([i["out_files"] for i in its]),
            "out_mb": median([i["out_bytes"] for i in its]) / 2**20,
            "dicom_read_s": median([t for i in its for t in i["read_s"]]),
        })
    return m


def per_layer(exp, result):
    m = {k: 0.0 for k in PER_LAYER}
    r = result.get("replay")
    if r:
        images = max(1, r["images"])
        m.update({
            "ingest.expand_s": r["expand_s"],
            "ingest.expand_mb_per_s": r["bytes"] / 2**20 / r["expand_s"] if r["expand_s"] else 0.0,
            "ingest.members": r["members"],
            "ingest.ignored": r["ignored"],
            "dicom.parse_us_per_image": r["parse_s"] * 1e6 / images,
            "dicom.flatten_us_per_image": r["flatten_s"] * 1e6 / images,
            "dicom.elements_per_image": r["elements"] / images,
            "dicom.values_per_image": r["values"] / images,
        })
    if "stream" in result:
        obs = result["stream"][0]
        m.update(stream_layers(obs))
        jobs = obs.get("pipeline", {})
        # the job listener joined halfway through the bursts
        half = len(exp["bursts"]) // 2
        lat = burst_latencies(obs)
        traced = [max(v) for k, v in lat.items() if k >= half]
        untraced = [max(v) for k, v in lat.items() if 1 <= k < half]
        m["trace.overhead_s"] = (median(traced) - median(untraced)) / 1e3
    else:
        its = result["iterations"]
        tr = [i for i in its if i["traced"]]
        un = [i for i in its if not i["traced"] and not i["warm"]]
        obs = tr[-1] if tr else its[-1]
        p = obs.get("pipeline", {})
        jobs = p
        ttq = obs["ttq_s"]
        for k in ("list_s", "extract_s", "finalize_s", "write_s", "catalog_s",
                  "first_query_s", "busy_share", "persist_mb"):
            m["pipeline." + k] = p.get(k, 0.0)
        m["ingest.read_amplification"] = (p.get("fs_read_mb", 0.0) * 2**20
                                          / max(1, exp["header_bytes"]))
        covered = sum(p.get(k, 0.0) for k in ("list_s", "extract_s", "finalize_s", "write_s",
                                             "catalog_s", "first_query_s"))
        m["trace.span_coverage"] = covered / ttq if ttq else 0.0
        if tr and un:
            m["trace.overhead_s"] = (median([i["ttq_s"] for i in tr])
                                     - median([i["ttq_s"] for i in un]))
    for k in ("jobs", "stages", "tasks", "input_mb", "shuffle_mb", "spill_mb", "gc_s"):
        m["pipeline." + k] = jobs.get(k, 0.0)
    for k in ("infer_s", "scan_s", "tasks"):
        m["sources." + k] = jobs.get("sources_" + k, 0.0)
    m["pipeline.partitions"] = len(obs.get("hist", {}))
    m["sources.rows"] = obs.get("read_rows", 0)
    for st in STAGES:
        m["pipeline.errors." + st] = obs.get("errors", {}).get(st, 0)
    return m


def judge(exp, result, trace):
    """-> (correct, attempted, failed, metrics, problems)."""
    problems = []
    attempted, failed = check_warmup(exp, result["warmup"], problems)
    runs = result.get("stream") or result.get("iterations") or []
    for n, obs in enumerate(runs):
        label = "%s %d" % ("stream" if "stream" in result else "iteration", n)
        a, f = check_output(exp, obs, problems, label)
        attempted, failed = attempted + a, failed + f
        if "stream" in result:
            a, f = check_stream_commits(obs, problems, label)
            attempted, failed = attempted + a, failed + f
    if not runs:
        attempted, failed = attempted + 1, failed + 1
        problems.append("no measured run")
    values = per_layer(exp, result) if trace else end_to_end(exp, result)
    units = PER_LAYER if trace else END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return failed == 0, attempted, failed, metrics, problems
