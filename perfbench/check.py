"""Output checks behind `ok_ratio`.

Every timed op is judged here, after the JVM has exited; an op whose
output is missing or wrong counts as failed, never as dropped.
"""
import json
import math

REL_TOL = 1e-9
KPI_FIELDS = ("total_fare", "count_trips", "average_fare", "max_fare", "min_fare")


def parse_sink(lines):
    """Rows captured from a date-partitioned JSON sink, each
    "date=YYYY-MM-DD<TAB><json document>", as {date: record}."""
    out = {}
    for line in lines:
        part, doc = line.split("\t", 1)
        if not part.startswith("date="):
            raise ValueError("not a date partition: " + part)
        date = part[len("date="):]
        if date in out:
            raise ValueError("date %s written twice" % date)
        out[date] = json.loads(doc)
    return out


def kpi_mismatch(lines, truth):
    """None when the sink holds exactly the expected daily KPIs, else the
    first difference found."""
    try:
        got = parse_sink(lines)
    except ValueError as e:
        return str(e)
    if set(got) != set(truth):
        return "dates differ: %d written, %d expected" % (len(got), len(truth))
    for date in sorted(truth):
        for f in KPI_FIELDS:
            a, b = got[date].get(f), truth[date][f]
            if a is None or not math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0):
                return "%s %s: got %r, expected %r" % (date, f, a, b)
    return None


def judge(workload, result, truth=None, oracle_rows=None):
    """One (ok, reason) per timed op of `result` (the JVM's result file)."""
    outputs = result.get("outputs", {})
    warm = result.get("warm", {})
    verdicts = []
    cache = {}
    for op in result["ops"]:
        if "error" in op:
            verdicts.append((False, op["error"]))
            continue
        if workload == "trip_stream":
            key = (op.get("out"), op.get("batch"))
            if key not in cache:
                lines = outputs.get(op.get("out"))
                cache[key] = ("no output captured" if lines is None
                              else kpi_mismatch(lines, truth[op["batch"]]))
            reason = cache[key]
        else:
            k = op["key"]
            w = warm.get(k, {})
            if k not in oracle_rows:
                reason = "no oracle row count for " + k
            elif "error" in w:
                reason = "warm pass failed: " + w["error"]
            elif op.get("rows") != oracle_rows[k]:
                reason = "%s: %s rows, oracle %s" % (k, op.get("rows"), oracle_rows[k])
            elif op.get("hash") != w.get("hash"):
                reason = "%s: content hash differs from the warm pass" % k
            else:
                reason = None
        verdicts.append((reason is None, reason))
    return verdicts
