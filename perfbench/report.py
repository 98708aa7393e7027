"""Turns a raw run record written by the harness into the benchmark's
metrics: the end-to-end metrics of BENCHMARK.json (untraced runs), the
per-layer metrics (traced runs), the named per-workload metrics, the
index_tree gates and the run's environment telemetry."""
import math
import statistics

LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def pct(values, p):
    """Linear-interpolated percentile p (0-100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    rank = p / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail(values):
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it, as {"p", "value", "n"}; None when even the median lacks
    them."""
    n = len(values)
    best = None
    for p in LADDER:
        if n * (1 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    if best is None:
        return None
    return {"p": best, "value": pct(values, best), "n": n}


def median(values):
    return statistics.median(values) if values else float("nan")


# ------------------------------------------------------------ end to end

def _index_e2e(s):
    passes = [p for p in s["passes"] if not p.get("traced")]
    steps = ("full", "reindex", "two_phase", "cleanup")
    work = [sum(st["s"] for st in p["steps"].values()) for p in passes]
    # files handled per second over steps 1-4, the median over passes
    rates = []
    for p in passes:
        done = [p["steps"][k] for k in steps if k in p["steps"]]
        busy = sum(st["s"] for st in done)
        if busy:
            rates.append(sum(st["files"] for st in done) / busy)
    ops = [st["s"] * 1e3 for p in passes for st in p["steps"].values()]

    def rate(k):
        return median([p["steps"][k]["files"] / p["steps"][k]["s"]
                       for p in passes if k in p["steps"]])
    named = {
        "full_index_files_per_s": (rate("full"), "1/s"),
        "reindex_files_per_s": (rate("reindex"), "1/s"),
        "two_phase_files_per_s": (rate("two_phase"), "1/s"),
        "cleanup_files_per_s": (rate("cleanup"), "1/s"),
        "first_query_s": (median([p["steps"]["first_query"]["s"] for p in passes
                                  if "first_query" in p["steps"]]), "s"),
    }
    return work, median(rates), ops, named


def _api_e2e(s):
    ph = s["phases"].get("timed") or s["phases"]["untraced"]
    lat = [r["ms"] for r in ph["requests"] if r["ok"]]
    rps = len(lat) / ph["busy_s"] if ph["busy_s"] else float("nan")
    named = {
        "api_p50_ms": (pct(lat, 50) if lat else float("nan"), "ms"),
        "api_p90_ms": (pct(lat, 90) if lat else float("nan"), "ms"),
        "api_req_per_s": (rps, "1/s"),
    }
    return ph["rounds"], rps, lat, named


def _report_e2e(s):
    rows = [r for r in s["rows"] if r["s"] >= 0]
    total = sum(r["s"] for r in rows)
    warm = [r["s"] * 1e3 for k, p in s["warm"].items() if k != "traced"
            for r in p if r["s"] >= 0]
    named = {"report_total_s": (total, "s")}
    return [total], (len(rows) / total if total else float("nan")), warm, named


E2E = {"index_tree": _index_e2e, "api_serve": _api_e2e, "report_pass": _report_e2e}


def end_to_end(rec):
    """(metrics for the result line, named metrics, tail percentile)."""
    work, rate, ops, named = E2E[rec["workload"]](rec["samples"])
    named["setup_s"] = (median(rec["setup_s"]), "s")
    named["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    metrics = {
        "setup_s": (median(rec["setup_s"]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "work_s": (median(work), "s"),
        "items_per_s": (rate, "1/s"),
        "op_p50_ms": (pct(ops, 50) if ops else float("nan"), "ms"),
        "op_p90_ms": (pct(ops, 90) if ops else float("nan"), "ms"),
    }
    return metrics, named, tail(ops) if ops else None


def gates(rec):
    """index_tree's reference claims, reported pass or fail."""
    if rec["workload"] != "index_tree":
        return {}
    passes = rec["samples"]["passes"]
    red = median([p["hash_reduction"] for p in passes])
    reuse = min(p["reuse_ratio"] for p in passes)
    return {"checksum.hash_reduction >= 0.95": (red, red >= 0.95),
            "checksum.reuse_ratio == 1.0": (reuse, reuse == 1.0)}


def environment(rec):
    w = rec["windows"]
    steal = [x["steal_pct"] for x in w if x["steal_pct"] >= 0]
    load = [x["load1_end"] for x in w if x["load1_end"] >= 0]
    return {"seed": rec["seed"], "nproc": rec["nproc"], "cpus": rec["cpus"],
            "peak_rss_mb": rec["peak_rss_mb"], "windows": len(w),
            "steal_pct_max": max(steal) if steal else -1.0,
            "steal_pct_median": median(steal) if steal else -1.0,
            "load1_max": max(load) if load else -1.0}


# ------------------------------------------------------------- per layer

SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
              "shuffle_write_bytes", "spill_bytes", "scheduler_delay_s")


def self_times(spans):
    """Self time per layer (first name component): a span's duration
    minus the part of it its child spans cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        for iv in _union([(k["start_s"], k["end_s"]) for k in kids.get(sp["id"], [])]):
            covered += iv[1] - iv[0]
        layer = sp["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (sp["end_s"] - sp["start_s"]) - covered
    return out


def _union(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _spark_sum(spans, pred=lambda sp: True):
    tot = {k: 0 for k in SPARK_KEYS}
    for sp in spans:
        if pred(sp):
            for k in SPARK_KEYS:
                tot[k] += sp["spark"][k]
    return tot


def _index_layers(rec, out):
    s = rec["samples"]
    n = s["files"]
    tp = [p for p in s["passes"] if p.get("traced")]
    up = [p for p in s["passes"] if not p.get("traced")]

    def m(key):
        return median([p["layer"][key] for p in tp if key in p["layer"]])

    def step(p, k):
        return p["steps"][k]["s"] if k in p["steps"] else float("nan")
    t = tp[0]["truth"] if tp else {}
    scan, hsh = m("scan_s"), m("hash_s")
    out.update({
        "fs_scan.files": m("scan_files"), "fs_scan.busy_s": scan,
        "fs_scan.files_per_s": m("scan_files") / scan, "fs_scan.skipped": m("scan_skipped"),
        "checksum.files_hashed": m("hash_files"), "checksum.bytes_hashed": m("hash_bytes"),
        "checksum.busy_s": hsh, "checksum.mb_per_s": m("hash_bytes") / 1e6 / hsh,
        "checksum.hash_errors": m("hash_errors"),
        "checksum.hash_reduction": median([p["hash_reduction"] for p in s["passes"]]),
        "checksum.reuse_ratio": min(p["reuse_ratio"] for p in s["passes"]),
        "indexer.dead_dirs": m("dead_dirs"), "indexer.deleted_rows": m("deleted_rows"),
        "store.bytes_written": m("bytes_written"), "store.files_written": m("files_written"),
        "store.bytes_per_row": m("bytes_written") / n,
        "store.snapshots_on_disk": m("snapshots_on_disk"),
        "queries.dup_summaries_s": median([step(p, "first_query") for p in tp]),
    })
    for k in ("full", "reindex", "two_phase", "cleanup"):
        out[f"store.publish_s.{k}"] = m(f"publish_s.{k}")
    hashed_share = {"full": 1.0, "reindex": t.get("churned", 0) / n,
                    "two_phase": t.get("size_colliding", 0) / n, "cleanup": 0.0}
    publishes = {"full": 1, "reindex": 1, "two_phase": 2, "cleanup": 1}
    for k in publishes:
        walk = 0.0 if k == "cleanup" else scan
        out[f"indexer.self_s.{k}"] = median([
            step(p, k) - walk - hsh * hashed_share[k]
            - publishes[k] * p["layer"].get(f"publish_s.{k}", float("nan")) for p in tp])
    for k in ("full", "reindex", "two_phase", "cleanup", "first_query"):
        out[f"trace.overhead_s.{k}"] = median([step(p, k) for p in tp]) - \
            median([step(p, k) for p in up])
    work = lambda ps: median([sum(st["s"] for st in p["steps"].values()) for p in ps])
    return work(tp) - work(up), work(up), \
        _spark_sum(rec["spans"], lambda sp: sp["name"].startswith("indexer.")), 5 * len(tp)


def _api_layers(rec, out):
    s, lay = rec["samples"], rec["layers"]
    reqs = [r for ph in s["phases"].values() for r in ph["requests"]]
    for kind in sorted({r["kind"] for r in reqs}):
        lat = [r["ms"] for r in reqs if r["kind"] == kind]
        out[f"api.{kind}.count"] = len(lat)
        out[f"api.{kind}.p50_ms"] = pct(lat, 50)
        out[f"api.{kind}.p90_ms"] = pct(lat, 90)
        parts = sum(v for k, v in lay.items() if k.startswith(f"queries.{kind}."))
        if f"api.single.{kind}.ms" in lay:
            out[f"api.self_ms.{kind}"] = lay[f"api.single.{kind}.ms"] - lay["store.load_ms"] - parts
    out["api.errors"] = sum(1 for r in reqs if not r["ok"])
    out["api.response_bytes"] = sum(r["bytes"] for r in reqs)
    out["store.load_ms"] = lay["store.load_ms"]
    for name, key in (("search_count_ms", "search_name.search_count"),
                      ("search_page_ms", "search_name.search_page"),
                      ("keyset_page_ms", "search_keyset.keyset_page"),
                      ("dup_page_ms", "duplicates.dup_page"),
                      ("stats_ms", "stats.stats"),
                      ("visualization_ms", "visualization.visualization")):
        out[f"queries.{name}"] = lay[f"queries.{key}.ms"]
    before, after = lay["api.loop_spark_before"], lay["api.loop_spark_after"]
    loop = {k: after[k] - before[k] for k in SPARK_KEYS}
    traced = s["phases"]["traced"]["requests"]
    out["api.jobs_per_request"] = loop["jobs"] / max(1, len(traced))
    mean = lambda xs: sum(xs) / len(xs) if xs else float("nan")
    untraced = s["phases"]["untraced"]["requests"]
    t_ms, u_ms = mean([r["ms"] for r in traced]), mean([r["ms"] for r in untraced])
    for kind in sorted({r["kind"] for r in reqs}):
        out[f"trace.overhead_s.{kind}"] = (
            median([r["ms"] for r in traced if r["kind"] == kind]) -
            median([r["ms"] for r in untraced if r["kind"] == kind])) / 1e3
    return (t_ms - u_ms) / 1e3, u_ms / 1e3, loop, len(traced)


def _report_layers(rec, out):
    s = rec["samples"]
    rows = [r for r in s["rows"] if r["s"] >= 0]
    for fam in sorted({r["family"] for r in rows}):
        out[f"report.{fam}_s"] = sum(r["s"] for r in rows if r["family"] == fam)
    out["report.query_p50_s"] = pct([r["s"] for r in rows], 50)
    out["report.slowest_query_s"] = max(r["s"] for r in rows)
    cold = sorted((sp for sp in rec["spans"] if sp["name"].startswith("report.")),
                  key=lambda sp: sp["start_s"])[:len(s["rows"])]
    spark = _spark_sum(cold)
    out["tables.input_bytes"] = spark["input_bytes"]
    out["opcaches.shared_live"] = s["shared_live"]
    out["opcaches.shared_degraded"] = s["shared_degraded"]
    untraced = {}
    for k, p in s["warm"].items():
        for r in p:
            if k != "traced":
                untraced.setdefault(r["name"], []).append(r["s"])
    untraced = {n: median(v) for n, v in untraced.items()}
    traced = {r["name"]: r["s"] for r in s["warm"]["traced"]}
    for n in traced:
        out[f"trace.overhead_s.{n}"] = traced[n] - untraced[n]
    return sum(traced.values()) - sum(untraced.values()), sum(untraced.values()), spark, \
        len(rows)


LAYERS = {"index_tree": _index_layers, "api_serve": _api_layers,
          "report_pass": _report_layers}


def per_layer(rec):
    """(metrics for the result line, every named layer metric)."""
    detail = {}
    overhead, base, op_spark, ops = LAYERS[rec["workload"]](rec, detail)
    for layer, v in sorted(self_times(rec["spans"]).items()):
        detail[f"self_s.{layer}"] = v
    total = _spark_sum(rec["spans"] + [{"spark": rec["spark_unattributed"]}])
    for k in SPARK_KEYS:
        detail[f"spark.{k}"] = total[k]
    for sp in rec["spans"]:
        for k in SPARK_KEYS:
            key = f"spark.span.{sp['name']}.{k}"
            detail[key] = detail.get(key, 0) + sp["spark"][k]
    units = {"jobs": "count", "tasks": "count", "input_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
    metrics = {f"spark.{k}": (total[k], units.get(k, "s")) for k in SPARK_KEYS}
    metrics["spark.jobs_per_op"] = (op_spark["jobs"] / max(1, ops), "count")
    metrics["trace.spans"] = (len(rec["spans"]), "count")
    metrics["trace.overhead_s"] = (overhead, "s")
    metrics["trace.overhead_share"] = (overhead / base if base else float("nan"), "ratio")
    return metrics, detail
