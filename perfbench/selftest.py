"""Harness self-test: `python3 perfbench/run.py --self-test`.

1. A short egress run with two injected queries in its first warm pass,
   one that throws and one that sleeps past the query bound, and with the
   expected result of `word_count` deliberately altered. Both failures must
   land in `error_rate` and `guard.timeouts` and in no time sample, and the
   altered expectation must raise `wrong_results` and a non-zero exit. The
   oracle of `grep_text` gets no time, and the query left unchecked must
   count in `wrong_results` too.
2. A short traced run, which must write a span for every layer boundary and
   print exactly the metrics `BENCHMARK.json` names.
"""
import json
import os

QUERIES = ["word_count", "grep_text", "text_stats"]
TIMEOUT_MS = 15000
SPAN_NAMES = {"run", "pass", "query", "build", "analyze", "optimize", "physical",
              "execute", "job", "stage"}


def main(bench):
    import run
    problems = []

    def expect(ok, what):
        print(f"self-test: {'PASS' if ok else 'FAIL'} {what}")
        if not ok:
            problems.append(what)

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect({m["name"] for m in spec["end_to_end"]} == set(run.E2E_UNITS),
           "BENCHMARK.json end_to_end names match the metrics the run prints")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS,
           "BENCHMARK.json per_layer names and units match the traced run's")

    rc, rep = bench(workload="mapreduce_files", seed=7, seconds=9, trace=0, queries=QUERIES,
                    inject=True, tamper="word_count", starve="grep_text", timeout_ms=TIMEOUT_MS)
    if rep is None:
        expect(False, "injected run produced a report")
        return 1
    by_status = {(s["q"], s["status"]) for s in rep["failures"]}
    expect(by_status == {("selftest_throws", "error"), ("selftest_sleeps", "timeout")},
           "the throwing query is an error and the sleeping one a timeout")
    expect(rep["failed"] == 2 and rep["error_rate"] == 2 / rep["attempted"],
           "both failures count in error_rate")
    expect(rep["layers"]["guard.timeouts"] == 1, "the bounded query counts in guard.timeouts")
    warm = [p for p in rep["passes"] if p["pass"] >= 1 and not p["traced"]]
    expect(rep["pass_samples"] == len(warm) - 1 >= 1,
           "the pass holding the failures is not a pass_s sample")
    ok_warm = [s for s in rep["samples"] if s["pass"] >= 1 and s["status"] == "ok"]
    expect(rep["query_samples"] == len(ok_warm) and
           all(s["q"] in QUERIES for s in ok_warm),
           "failed runs add no query time sample")
    verdicts = {q: c["verdict"] for q, c in rep["correctness"].items()}
    expect(verdicts["word_count"] != "ok" and rc != 0,
           "an altered expected result raises wrong_results and fails the run")
    expect(verdicts["grep_text"].startswith("not checked"),
           "a query whose oracle did not finish is reported as not checked")
    expect(rep["wrong_results"] == 2 and verdicts["text_stats"] == "ok",
           "both the altered and the unchecked query count in wrong_results, and only they")

    rc, rep = bench(workload="fixpoint_x2", seed=8, seconds=12, trace=1,
                    queries=["graph_pagerank"])
    expect(rc == 0 and rep is not None and rep["wrong_results"] == 0,
           "the traced run is correct")
    spans_path = os.path.join(run.WORK, "results", "fixpoint_x2-seed8-trace1.spans.json")
    with open(spans_path) as fh:
        spans = json.load(fh)
    names = {s["name"] for s in spans}
    expect(SPAN_NAMES <= names, f"spans cover every layer boundary (missing {SPAN_NAMES - names})")
    ids = {s["id"] for s in spans}
    expect(all(s["parent"] in ids for s in spans if s["name"] != "run"),
           "every span but the run's has a recorded parent")
    print(f"self-test: {'FAILED: ' + '; '.join(problems) if problems else 'all checks passed'}")
    return 1 if problems else 0
