#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [options]

For each query dir under <verifyOutDir>: load the Spark parquet result,
run the oracle SQL from oracle_sql.json in DuckDB over the same tables,
sort columns by name + rows by all columns, and compare values. Every
gate that <verifyOutDir>/_status.json marks as failed (the gate threw
in graft.Verify) counts as a FAIL.

Options / env:
  --incremental       Skip gates whose (oracle SQL, normalized Spark
                      result) fingerprint already passed in a previous
                      run against the SAME sfDir — the Spark parquet is
                      re-read (cheap) and re-hashed, so any output
                      change re-triggers the oracle; only the DuckDB
                      side (the sweep bottleneck: quadratic plain-form
                      oracles) is skipped. Per-gate manifest files live
                      in ORACLE_MANIFEST_DIR (default
                      <verifyOutDir>/_manifest), so concurrent shards
                      never contend on one file.
  --shard i/N         Process only gates with stable_hash(name) % N == i
                      — the supported way to parallelize a sweep (run N
                      processes; with --incremental they share the
                      manifest dir safely because each gate's file is
                      written only by the shard that owns it).
  --only p1,p2        Name-prefix filter (same semantics as
                      graft.Verify's 3rd arg).
  --skip n1,n2        Exact gate names to leave for out-of-band
                      verification (e.g. q_join_interval at sf1, whose
                      literal oracle is a ~28.8e9-pair range join --
                      verify it via the pre-aggregated replay instead).
  DUCKDB_MEM          Memory cap, e.g. 20GB — validated against
                      ^\\d+(\\.\\d+)?(KB|MB|GB|TB)$ before interpolation;
                      enables a PID-suffixed spill dir so parallel
                      workers sharing an out_dir stay disjoint.
  ORACLE_MANIFEST_DIR Override the manifest location (point it at a
                      repo path to commit a sweep's manifest).
"""
import hashlib
import json
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def result_fingerprint(g: pd.DataFrame) -> str:
    """Canonical content hash of a NORMALIZED result frame: column names,
    dtype-independent value text (17 significant digits for floats), row
    order already canonical from norm(). Any value change changes it."""
    payload = g.to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def stable_hash(s: str) -> int:
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:12], 16)


def data_fingerprint(sf_dir: str) -> str:
    """Cheap identity of the DATA at sf_dir: per-table parquet file
    names, sizes and mtimes (recursive for Spark-written dirs), plus the
    replica _SUCCESS stamp if present. Guards an --incremental manifest
    against replaying a stale pass after an in-place rebuild at the same
    path (the skew-replica builder rewrites tables without moving them;
    a gate whose Spark result bytes happen to match would otherwise be
    skipped against different tables)."""
    parts = []
    stamp = os.path.join(sf_dir, "_SUCCESS")
    if os.path.exists(stamp):
        parts.append("stamp:" + open(stamp).read().strip())
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _, files in sorted(os.walk(p)):
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    parts.append(f"{t}/{f}:{st.st_size}:{st.st_mtime_ns}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode("utf-8")).hexdigest()


def parse_args(argv):
    sf_dir, out_dir = argv[1], argv[2]
    inc, shard, only, skip = False, None, None, []
    for a in argv[3:]:
        if a == "--incremental":
            inc = True
        elif a.startswith("--shard"):
            v = a.split("=", 1)[1] if "=" in a else None
            if v is None:
                raise SystemExit("--shard=i/N required")
            i, n = v.split("/")
            shard = (int(i), int(n))
        elif a.startswith("--only"):
            only = a.split("=", 1)[1].split(",")
        elif a.startswith("--skip"):
            skip = a.split("=", 1)[1].split(",")
        else:
            raise SystemExit(f"unknown arg {a}")
    return sf_dir, out_dir, inc, shard, only, skip


def main(argv) -> int:
    sf_dir, out_dir, incremental, shard, only, skip = parse_args(argv)
    con = duckdb.connect()
    # Large-replica sweeps: a quadratic oracle (all-pairs edges feeding a
    # recursive CTE) can balloon past physical RAM — one sf1 run was
    # OOM-killed at 83 GB RSS. A memory cap + spill dir turns that into
    # either a spilled (slow but correct) run or a loud per-query DuckDB
    # error instead of a dead process.
    mem = os.environ.get("DUCKDB_MEM")
    if mem:
        if not re.fullmatch(r"\d+(\.\d+)?\s*(KB|MB|GB|TB|KiB|MiB|GiB|TiB)",
                            mem, re.IGNORECASE):
            raise SystemExit(
                f"DUCKDB_MEM={mem!r} is not a size like 20GB / 512MB")
        con.execute(f"SET memory_limit='{mem}'")
        # PID suffix: parallel shard workers pointed at one out_dir must
        # not share a spill directory
        con.execute(
            f"SET temp_directory='{out_dir}/_duckdb_spill_{os.getpid()}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written replica dirs vs plain files
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    man_dir = os.environ.get("ORACLE_MANIFEST_DIR",
                             f"{out_dir}/_manifest")
    if incremental:
        os.makedirs(man_dir, exist_ok=True)
    # sfDir identity guards a manifest against being replayed on a
    # different replica (same gate names, different data); the data
    # fingerprint additionally guards against an IN-PLACE rebuild at
    # the same path (same realpath, different table bytes).
    sf_key = os.path.realpath(sf_dir)
    data_key = data_fingerprint(sf_dir) if incremental else None
    # graft.Verify deletes a failed gate's dir and records the error in
    # _status.json; without this, a gate that threw would be left out of
    # the count instead of failing it
    status_path = f"{out_dir}/_status.json"
    status = json.load(open(status_path)) if os.path.exists(status_path) else {}
    errors = {k: v for k, v in status.items() if v != "ok"}
    n_pass = n_fail = n_skip = n_oob = 0
    names = {n for n in os.listdir(out_dir)
             if os.path.isdir(f"{out_dir}/{n}") and not n.startswith("_")}
    for name in sorted(names | errors.keys()):
        if only and not any(name.startswith(p) for p in only):
            continue
        if shard and stable_hash(name) % shard[1] != shard[0]:
            continue
        if name in errors:
            print(f"FAIL {name}: verify error {errors[name]}")
            n_fail += 1
            continue
        if name in skip:
            print(f"SKIP {name} (--skip: verify out of band)")
            n_oob += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        if name not in oracles:
            status = f"rows-only ({len(got)} rows)" if len(got) > 0 else "EMPTY!"
            print(f"{'PASS' if len(got) else 'FAIL'} {name}: {status}")
            n_pass += 1 if len(got) else 0
            n_fail += 0 if len(got) else 1
            continue
        g = norm(got)
        oracle_sha = hashlib.sha256(
            oracles[name].encode("utf-8")).hexdigest()
        result_sha = result_fingerprint(g)
        man_path = f"{man_dir}/{name}.json"
        if incremental and os.path.exists(man_path):
            try:
                rec = json.load(open(man_path))
            except Exception:
                rec = {}
            if (rec.get("status") == "pass"
                    and rec.get("sf_dir") == sf_key
                    and rec.get("data_sha") == data_key
                    and rec.get("oracle_sha") == oracle_sha
                    and rec.get("result_sha") == result_sha):
                print(f"SKIP {name} (unchanged since {rec.get('when')})")
                n_skip += 1
                continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        e = norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
            if incremental:
                import datetime
                tmp = f"{man_path}.tmp.{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump({"status": "pass", "sf_dir": sf_key,
                               "data_sha": data_key,
                               "oracle_sha": oracle_sha,
                               "result_sha": result_sha,
                               "rows": len(g),
                               "when": datetime.datetime.now()
                               .isoformat(timespec="seconds")}, f,
                              indent=1)
                os.replace(tmp, man_path)
        except AssertionError as ex:
            print(f"FAIL {name}: {str(ex).splitlines()[-1]}")
            diff = (g != e) & ~(g.isna() & e.isna())
            bad = diff.any(axis=1)
            print(g[bad].head(3))
            print(e[bad].head(3))
            n_fail += 1
    skip = f", {n_skip} skipped (unchanged)" if n_skip else ""
    oob = f", {n_oob} skipped (out-of-band)" if n_oob else ""
    print(f"\n{n_pass} pass, {n_fail} fail{skip}{oob}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
