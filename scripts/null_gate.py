#!/usr/bin/env python3
"""Null-corpus correctness gate -> committed artifact (VERDICT r8 item 8,
r10 "Next round" #6).

Compares graft.Verify output (run against the make_null_corpus.py corpus)
with the DuckDB oracles, exactly like scripts/check.py, and writes
CORRECTNESS_null_r{N}.json. Unlike r9/r10's ad-hoc generator, the artifact
key set is the FULL registry: every Verify output directory without an
oracle entry is emitted as {"skipped": true, "reason": ...} so the
artifact audits against the registry with zero unexplained keys (the two
spec-bounded sketches are the expected skips).

Usage:
  sbt "runMain graft.Verify <nullDir> <outDir>"
  python3 scripts/null_gate.py <nullDir> <outDir> <round>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon  # same normalization as the driver-mimic gate


def run_gate(corpus_dir, out_dir, rnd, artifact_prefix="CORRECTNESS_null",
             corpus_desc=None, src=None):
    """Shared degenerate-corpus gate core (r14: unicode_gate.py reuses it
    so the two gates' compare protocol cannot drift). Returns the fail
    count."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # full registry = every query Verify dumped (oracled or not)
    all_keys = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(os.path.join(out_dir, d)))
    result, n_pass, n_fail, n_skip = {}, 0, 0, 0
    # The ONLY ops allowed to lack an oracle: the two spec-bounded
    # sketches. Any OTHER key missing from oracle_sql.json is a dropped/
    # misspelled oracle entry — an op silently going unverified — and
    # must FAIL the gate, not auto-skip with a false explanation.
    expected_skips = {"q_approx_distinct", "q_approx_percentile"}
    for name in all_keys:
        if name not in oracles:
            if name in expected_skips:
                result[name] = {
                    "skipped": True,
                    "reason": "no_oracle: spec-bounded sketch estimator (no "
                              "cross-engine oracle by design; bounds pinned in "
                              "SamplingSpec)"}
                n_skip += 1
            else:
                result[name] = {
                    "rows_match": False, "schema_match": False,
                    "hash_match": False, "spark_rows": 0, "oracle_rows": 0,
                    "err": "missing_oracle: op dumped by Verify but absent "
                           "from oracle_sql.json — unverified, not a "
                           "declared sketch"}
                n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        entry = {"rows_match": False, "schema_match": False,
                 "hash_match": False, "spark_rows": 0, "oracle_rows": 0,
                 "err": None}
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files],
                                 ignore_index=True)
            oracle_df = con.execute(oracles[name]).df()
            gc, grr = canon(spark_df)
            oc, orr = canon(oracle_df)
            entry.update(spark_rows=len(grr), oracle_rows=len(orr),
                         rows_match=len(grr) == len(orr),
                         schema_match=gc == oc, hash_match=grr == orr)
        except Exception as e:
            entry["err"] = f"{type(e).__name__}: {e}"
        result[name] = entry
        ok = entry["rows_match"] and entry["schema_match"] and entry["hash_match"]
        n_pass += ok
        n_fail += not ok
        print(("PASS" if ok else "FAIL"), name,
              "" if ok else entry)
    desc = corpus_desc or (
        f"scripts/make_null_corpus.py over {src} -> {corpus_dir} "
        "(deterministic null injection: NULL event values, "
        "NULL/empty document text, zero-norm embeddings)")
    out = {"_meta": {
        "corpus": desc,
        "round": rnd, "n_pass": n_pass, "n_total": n_pass + n_fail,
        "n_skipped": n_skip}}
    out.update({k: result[k] for k in sorted(result)})
    path = f"{artifact_prefix}_r{rnd:02d}.json" if rnd < 10 else \
        f"{artifact_prefix}_r{rnd}.json"
    json.dump(out, open(path, "w"), indent=1)
    print(f"== {n_pass} pass / {n_fail} fail / {n_skip} skipped -> {path} ==")
    return n_fail


def main():
    corpus_dir, out_dir, rnd = sys.argv[1], sys.argv[2], int(sys.argv[3])
    src = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.01"
    sys.exit(1 if run_gate(corpus_dir, out_dir, rnd, src=src) else 0)


if __name__ == "__main__":
    main()
