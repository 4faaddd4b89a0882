"""Arithmetic of the XML engine benchmark: turns the JVM's raw samples,
checks and spans into the metrics `run.py` prints.

Untraced runs give the end-to-end metrics, traced runs the per-layer ones.
Every function here is pure, so `test_metrics.py` can pin it down.
"""

import math
import statistics

# The op kinds every workload runs; `<kind>_s` is each one's median time.
KINDS = ("read_full", "read_narrow", "read_filter", "infer",
         "write", "to_xml", "from_xml", "stream_drain")

# A 25-second small_ops run gathers about 270 samples, so at least ten lie
# beyond the 95th percentile.
TAIL_Q = 0.95


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def mb_per_s(nbytes, seconds):
    """Decimal megabytes per second."""
    if seconds <= 0:
        raise ValueError("throughput over no time")
    return nbytes / seconds / 1e6


def failed_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("failed ratio of no attempts")
    return failed / attempted


def covered(interval, others):
    """Length of `interval` covered by the union of `others`, each clipped
    to `interval`."""
    start, end = interval
    clipped = sorted((max(s, start), min(e, end)) for s, e in others if e > start and s < end)
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part its children cover (ns)."""
    children = {}
    for s in spans:
        children.setdefault((s["trace"], s["parent"]), []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        interval = (s["start_ns"], s["end_ns"])
        kids = children.get((s["trace"], s["id"]), [])
        out[s["id"]] = (interval[1] - interval[0]) - covered(interval, kids)
    return out


def attempted_failed(result):
    outcomes = [s["ok"] for s in result["samples"]] + [c["ok"] for c in result["checks"]]
    return len(outcomes), sum(1 for ok in outcomes if not ok)


def end_to_end(result):
    """name -> (value, unit, note on its samples) from an untraced run."""
    timed = [s for s in result["samples"] if not s["traced"]]
    ok = [s for s in timed if s["ok"]]
    out = {
        "setup_s": (median(result["setup_s"]), "s", "n=%d" % len(result["setup_s"])),
        "xml_mb_per_s": (mb_per_s(sum(s["bytes"] for s in ok), sum(s["s"] for s in ok)), "MB/s",
                         "n=%d" % len(ok)),
        "peak_rss_mb": (result["peak_rss_mb"], "MB", ""),
    }
    for kind in KINDS:
        # An op kind that never succeeded is still timed, so the run reports
        # it (with correct: false) instead of breaking off.
        xs = [s["s"] for s in ok if s["op"] == kind] or [s["s"] for s in timed if s["op"] == kind]
        out[kind + "_s"] = (median(xs), "s", "n=%d" % len(xs))
    pooled = [s["s"] for s in ok]
    out["op_p50_s"] = (median(pooled), "s", "n=%d" % len(pooled))
    out["op_p95_s"] = (percentile(pooled, TAIL_Q), "s",
                       "n=%d, %d beyond" % (len(pooled), beyond(pooled, TAIL_Q)))
    return out


def _by_name(spans):
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)
    return named


def _seconds(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def per_layer(result, spans):
    """name -> (value, unit) from a traced run: the median over its cycles
    of each layer's span time and the counts recorded at its boundary."""
    cores = result["cores"]
    named = _by_name(spans)
    selfs = self_times(spans)
    out = {}

    def dur(name):
        return median([_seconds(s) for s in named[name]])

    def attr(name, key):
        return median([s["attrs"][key] for s in named[name]])

    out["XmlInputFormat.busy_s"] = (dur("XmlInputFormat.scan"), "s")
    out["XmlInputFormat.records"] = (attr("XmlInputFormat.scan", "records"), "count")
    out["XmlInputFormat.mb_per_s"] = (median([
        mb_per_s(s["attrs"]["bytes"], _seconds(s)) for s in named["XmlInputFormat.scan"]]), "MB/s")
    out["XmlFile.read_s"] = (dur("XmlFile.read"), "s")
    out["stax.tokenize_s"] = (dur("stax.tokenize"), "s")
    out["stax.events"] = (attr("stax.tokenize", "events"), "count")
    out["StaxXmlParser.parse_full_s"] = (dur("StaxXmlParser.parse_full"), "s")
    out["StaxXmlParser.parse_narrow_s"] = (dur("StaxXmlParser.parse_narrow"), "s")
    out["StaxXmlParser.convert_s"] = (dur("StaxXmlParser.parse_full") - dur("stax.tokenize"), "s")
    out["nested.leaf_to_full_ratio"] = (dur("op.read_narrow") / dur("op.read_full"), "ratio")
    out["RawRecordFilter.keep_ratio"] = (median([
        s["attrs"]["kept"] / s["attrs"]["attempted"] for s in named["RawRecordFilter.pretest"]]), "ratio")
    out["InferSchema.infer_s"] = (dur("InferSchema.infer"), "s")
    out["InferSchema.records"] = (attr("InferSchema.infer", "records"), "count")
    out["XmlFile.save_s"] = (dur("XmlFile.save"), "s")
    out["XmlFile.bytes_written"] = (attr("XmlFile.save", "bytes"), "bytes")
    out["CatalystDataToXml.s"] = (dur("op.to_xml"), "s")
    out["XmlDataToCatalyst.s"] = (dur("op.from_xml"), "s")
    out["XmlRelation.read_full_s"] = (dur("op.read_full"), "s")
    out["XmlRelation.read_narrow_s"] = (dur("op.read_narrow"), "s")
    out["v2.XmlScan.read_full_s"] = (dur("v2.XmlScan.read_full"), "s")
    out["v2.XmlScan.read_narrow_s"] = (dur("v2.XmlScan.read_narrow"), "s")
    out["XmlStreamSource.drain_s"] = (dur("XmlStreamSource.drain"), "s")
    out["XmlStreamSource.batches"] = (attr("XmlStreamSource.drain", "batches"), "count")

    stage_children = {}
    for s in named.get("spark.stage", []):
        stage_children.setdefault((s["trace"], s["parent"]), []).append(s)
    for kind in KINDS:
        rows = {"stages": [], "tasks": [], "executor_cpu_s": [], "gc_s": [],
                "off_stage_s": [], "parallel_eff": []}
        for op in named["op." + kind]:
            stages = stage_children.get((op["trace"], op["id"]), [])
            wall = _seconds(op)
            cpu = sum(s["attrs"]["cpu_s"] for s in stages)
            rows["stages"].append(len(stages))
            rows["tasks"].append(sum(s["attrs"]["tasks"] for s in stages))
            rows["executor_cpu_s"].append(cpu)
            rows["gc_s"].append(sum(s["attrs"]["gc_s"] for s in stages))
            rows["off_stage_s"].append(selfs[op["id"]] / 1e9)
            rows["parallel_eff"].append(cpu / (wall * cores))
        units = {"stages": "count", "tasks": "count", "parallel_eff": "ratio"}
        for key, values in rows.items():
            out["spark.%s.%s" % (kind, key)] = (median(values), units.get(key, "s"))

    out["control.parquet_scan_s"] = (median(result["controls"]["parquet_scan_s"]), "s")
    out["control.builtin_xml_scan_s"] = (median(result["controls"]["builtin_xml_scan_s"]), "s")
    out["tracing.overhead_s"] = (tracing_overhead(result["samples"]), "s")
    out["setup.session_s"] = (result["session_s"], "s")
    out["setup.warmup_s"] = (result["phases"]["warmup"], "s")
    attempted, failed = attempted_failed(result)
    out["bench.failed_ratio"] = (failed_ratio(failed, attempted), "ratio")
    return out


def tracing_overhead(samples):
    """Median over cycles of (traced op-cycle time - untraced op-cycle time)."""
    per_cycle = {}
    for s in samples:
        pair = per_cycle.setdefault(s["cycle"], [0.0, 0.0])
        pair[1 if s["traced"] else 0] += s["s"]
    return median([traced - plain for plain, traced in per_cycle.values()])
