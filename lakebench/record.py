#!/usr/bin/env python3
"""Record lakebench/digests.tsv: the expected output of every benchmark gate.

    python3 lakebench/record.py

For each workload this runs the harness without expected digests, checks
that every gate produced the same digest in every pass and that no gate
failed, and cross-checks each digest once against the gate's DuckDB oracle
(graft.SparkEntry.oracleSql) run over the same input tables. It writes the
digests, row counts, recorded warm wall times and oracle verdicts. A gate
whose digest differs from its oracle's is an error; a gate without an
oracle is recorded as such.

Record again only when a change is meant to alter a gate's output or the
inputs; a digest that changes otherwise is a correctness failure.
"""
import json
import os
import sys
import threading

import run

ORACLE_LIMIT_S = 300


def oracle_outputs(cp, data_dir, out_dir):
    """Run each gate's oracle SQL in DuckDB; write its result as parquet."""
    import duckdb
    sql_file = out_dir / "oracle_sql.json"
    rc = run.java(cp, "lakebench.OracleSql", [str(sql_file)], out_dir / "oracle_sql.log", 300,
                  run.BUILD / "tmp" / f"oracle-{os.getpid()}")
    if rc != 0:
        run.fail(f"could not list oracle SQL; see {out_dir / 'oracle_sql.log'}")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    for gate, sql in json.loads(sql_file.read_text()).items():
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            con.execute(f"COPY ({sql}) TO '{out_dir}/{gate}.parquet' "
                        f"(FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)")
        except Exception as e:  # an oracle that fails is reported, not fatal
            print(f"oracle for {gate} failed: {str(e)[:200]}", file=sys.stderr)
        finally:
            timer.cancel()


def main():
    cp, _ = run.build()
    data_dir = run.data(cp)
    out_dir = run.BUILD / "record"
    out_dir.mkdir(parents=True, exist_ok=True)
    oracle_outputs(cp, data_dir, out_dir)
    rows, errors, cpus = [], [], set()
    for workload in ["lake_read", "lake_write", "iterative"]:
        res = run.run_workload(workload, 1, 1, 0, "none", ["--oracle", str(out_dir)])
        cpus.add(res["stamp"]["cpus"])
        errors += [f"{f['gate']} pass {f['pass']}: {f['why']}" for f in res["failures"]]
        for gate, g in res["gates"].items():
            if not g["digests_agree"]:
                errors.append(f"{gate}: digest differs between passes")
            if g["oracle_digest"] is None:
                verdict = "no-oracle"
            elif g["oracle_digest"] == g["digest"]:
                verdict = "match"
            else:
                verdict = "MISMATCH"
                errors.append(f"{gate}: digest {g['digest']} but oracle {g['oracle_digest']}")
            n = g["digest"].split("/")[1]
            rows.append(f"{gate}\t{n}\t{g['digest']}\t{g['wall_s']:.3f}\t{verdict}")
    if errors:
        print("\n".join(errors), file=sys.stderr)
        sys.exit(1)
    header = [
        "# Expected output of every lakebench gate; written by lakebench/record.py.",
        "# digest = schema hash / rows / two order-insensitive row-hash sums (see Digest.scala).",
        "# ref_s = warm wall time when recorded; a failed gate run is charged at least this.",
        f"# recorded on {'/'.join(map(str, sorted(cpus)))} cpus",
        "gate\trows\tdigest\tref_s\toracle"]
    run.DIGESTS.write_text("\n".join(header + sorted(rows)) + "\n")
    print(run.DIGESTS.read_text())


if __name__ == "__main__":
    main()
