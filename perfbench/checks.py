"""Output checks against the generator's expected answers, and the
workload-specific metrics of the report line.

Every operation (request or micro-batch, and the set-up ETL of
purl_lookup) that raised or gave a wrong answer is one failure; none is
dropped."""

import stats


def timed(result):
    """The operations of the timed loop (warm-up ones excluded)."""
    return [o for o in result["ops"] if not o["warm_up"]]


def check(workload, result, expected):
    """(operations attempted, one message per failed operation)."""
    ops = result["ops"]
    failures = ["op {}: {}".format(i, o["error"])
                for i, o in enumerate(ops) if o["error"]]
    failed = {i for i, o in enumerate(ops) if o["error"]}
    extra = 0
    if workload == "purl_lookup":
        extra = 1
        diff = mismatches(result["etl"], expected["etl"])
        if diff:
            failures.append("set-up ETL: " + diff)
        for i, got in enumerate(result["responses"]):
            want = expected["responses"][i]
            kind = ops[i]["kind"]
            if kind in ("bulk", "package"):
                got, want = sorted(got), sorted(want)
            if i not in failed and got != want:
                failures.append("request {} ({}): got {} rows, want {}"
                                .format(i, kind, len(got), len(want)))
    elif workload == "curation_stream":
        failures += stream_failures(result, expected, failed)
    return len(ops) + extra, failures


def mismatches(got, want):
    return ", ".join("{} {} != {}".format(k, got.get(k), v)
                     for k, v in sorted(want.items()) if got.get(k) != v)


def stream_failures(result, expected, failed):
    """Per processed batch: every offered doc has exactly one ledger row,
    admitted docs passed quality (by the ledger and by the generator's own
    rules), and planted exact duplicates, junk and verbatim suite copies
    are not admitted."""
    n = len(result["ops"])
    batch_of = {d: i for i, docs in enumerate(expected["offered"])
                for d in docs}
    rows = {}
    for doc, passes, admitted, batch in result["ledger"]:
        rows.setdefault(doc, []).append((passes, admitted, batch))
    passes = set(expected["passes"])
    rejected = (set(expected["exact_dups"]) | set(expected["junk"])
                | set(expected["suite_copies"]))
    problems = {}
    for doc, i in batch_of.items():
        if i >= n:
            if doc in rows:
                problems.setdefault(i, []).append(
                    "doc {} of an unprocessed batch in the ledger".format(doc))
            continue
        got = rows.get(doc, [])
        if len(got) != 1:
            problems.setdefault(i, []).append(
                "doc {} has {} ledger rows".format(doc, len(got)))
            continue
        ok_quality, admitted, batch = got[0]
        if batch != i:
            problems.setdefault(i, []).append(
                "doc {} in ledger batch {}".format(doc, batch))
        if admitted and not (ok_quality and doc in passes):
            problems.setdefault(i, []).append(
                "doc {} admitted without passing quality".format(doc))
        if admitted and doc in rejected:
            problems.setdefault(i, []).append(
                "planted doc {} admitted".format(doc))
    for doc in rows:
        if doc not in batch_of:
            problems.setdefault(-1, []).append(
                "unknown doc {} in the ledger".format(doc))
    return ["batch {}: {}".format(i, "; ".join(p[:3]))
            for i, p in sorted(problems.items()) if i not in failed]


def named_metrics(workload, result, expected, e2e):
    """The workload's metrics under the names users know them by."""
    ms = [o["ms"] for o in timed(result)]
    p50 = stats.median(ms)
    out = {"setup_s": e2e["setup_s"][0],
           "live_heap_mb": result["live_heap_mb"]}
    if workload == "purl_lookup":
        out["etl_s"] = stats.median(result["etl_s"])
        out["lookup_p50_ms"] = p50
        out["lookups_per_s"] = e2e["ops_per_s"][0]
    else:
        out["batch_p50_s"] = p50 / 1e3
        out["batch_growth"] = stats.growth(ms)
        first = len(result["ops"]) - len(ms)
        docs = sum(len(b) for b in expected["offered"][first:first + len(ms)])
        out["stream_docs_per_s"] = docs / (sum(ms) / 1e3) if ms else None
    return out
