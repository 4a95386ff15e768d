"""Output checks of the benchmark.

Each check compares what the program produced with what the benchmark
knows independently, and returns the problems it found. A problem is a
(check name, detail, failed operations) tuple; an empty list means the
run's outputs are correct.
"""


def storm(c):
    """Checks of one storm run. `c` is the harness's `checks` record.

    - conservation: every record sent reached a sink, good or poison;
    - poison: the dead-letter side got exactly the planted malformed lines;
    - metrics: /metrics agrees with the bench's own counts;
    - stream_batch: the stream's good keys hash to the same value as
      `StormStream.transform` over the same records;
    - batches: one sink call per non-empty micro-batch.
    """
    problems = []
    sent, good, poison = c["sent"], c["good"], c["poison"]
    if good + poison != sent or c["consumed"] != sent:
        problems.append(("conservation",
                         f"sent {sent}, consumed {c['consumed']}, "
                         f"good {good} + poison {poison}",
                         max(abs(sent - good - poison), abs(sent - c["consumed"]))))
    if poison != c["planted"] or c["batch_poison"] != c["planted"]:
        problems.append(("poison",
                         f"poison {poison}, batch poison {c['batch_poison']}, "
                         f"planted {c['planted']}",
                         max(abs(poison - c["planted"]),
                             abs(c["batch_poison"] - c["planted"]))))
    diffs = {
        "storm_etl_messages_consumed_total": (c["metrics_consumed"], c["consumed"]),
        "storm_etl_messages_produced_total": (c["metrics_produced"], good),
        "storm_etl_transform_errors_total": (c["metrics_errors"], poison),
    }
    bad = {k: v for k, v in diffs.items() if v[0] != v[1]}
    if bad:
        problems.append(("metrics", f"/metrics vs bench: {bad}",
                         max(abs(a - b) for a, b in bad.values())))
    if str(c["stream_hash"]) != str(c["batch_hash"]) or good != c["batch_good"]:
        problems.append(("stream_batch",
                         f"stream {good} rows hash {c['stream_hash']}, batch "
                         f"{c['batch_good']} rows hash {c['batch_hash']}", max(good, 1)))
    if c["sink_calls"] != c["data_batches"]:
        problems.append(("batches",
                         f"{c['sink_calls']} sink calls for {c['data_batches']} batches",
                         abs(c["sink_calls"] - c["data_batches"])))
    return problems


def analytics(runs, expected):
    """Checks of every query run against the committed expected file:
    the run must succeed and match the expected row count and hash."""
    problems = []
    for r in runs:
        want = expected.get(r["name"])
        if r["error"]:
            problems.append((r["name"], f"pass {r['pass']}: {r['error']}", 1))
        elif want is None:
            problems.append((r["name"], "no expected value", 1))
        elif r["rows"] != want["rows"] or str(r["hash"]) != str(want["hash"]):
            problems.append((r["name"],
                             f"pass {r['pass']}: rows {r['rows']} hash {r['hash']}, "
                             f"expected rows {want['rows']} hash {want['hash']}", 1))
    return problems


def verdict(workload, raw, expected):
    """(attempted, failed, problems) for one run's raw harness result."""
    if workload.startswith("analytics"):
        runs = raw["checks"]["runs"]
        problems = analytics(runs, expected)
        return len(runs), len(problems), problems
    c = raw["checks"]
    problems = storm(c)
    attempted = max(c["sent"], 1)
    return attempted, min(attempted, sum(p[2] for p in problems)), problems
