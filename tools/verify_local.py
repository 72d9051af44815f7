"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and an
order-insensitive value comparison (exact match after canonicalization).

Usage: python tools/verify_local.py [--json out.json] [sf_dir] [query_name ...]

With ``--json out.json``, also writes a driver-format per-query record
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}) so a full-contract correctness artifact can be committed each round
(the driver itself samples only ~50 of the contract queries per round).
Rows-only queries (no oracle) record null for the oracle-side fields.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from youtubeanalyzerproject_big_data__spark.session import get_spark


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def c(v):
        # (is_null, value) pairs keep rows sortable when a column mixes
        # NULLs with values (None < int raises in Python).
        if v is None:
            return (1, "")
        if isinstance(v, float):
            if math.isnan(v):
                return (0, "NaN")
            return (0, round(v, 9))
        if hasattr(v, "isoformat"):
            return (0, v.isoformat())
        if isinstance(v, (list, tuple)):
            return (0, tuple(c(x) for x in v))
        return (0, v)

    return sorted(tuple(c(r[i]) for i in order) for r in rows)


def _digest_compare(spark, con, sf: str, name: str, fn, oracle: str) -> dict:
    """Order-insensitive equality proof that never materializes the result
    driver-side: both engines reduce the result set to (row_count, sum of
    two independent md5-derived 32-bit row hashes) and only the three
    scalars cross the engine boundary.

    The row hash is md5 of an INJECTIVE row encoding in sorted-column
    order (functions/hashing.py lanes; exact-integer sums -- decimal(38,0)
    Spark-side, HUGEINT oracle-side): each value is length-prefixed
    (``len(v) ':' v``, NULL -> ``N``) so column boundaries are always
    decodable -- a bare '|' join is ambiguous ( ('a|b','c') vs ('a','b|c') )
    and silently skips NULLs (ADVICE r8).  Integer/string columns encode
    via CAST AS VARCHAR (bit-identical across engines); double/float
    columns encode as int64 MICROS via ``floor(double(x) * 1e6 + 0.5)`` --
    the pure-IEEE recipe every engine computes bit-for-bit (CLAUDE.md
    float->micro invariant).  All contract float outputs are ROUND(x, 6)
    values, so the micro encoding is injective at the output's own
    precision; the quantization is the same one canon()'s round(v, 9)
    already applies, just engine-side.  Timestamps stay unsupported
    (would need tz-pinned epoch canonicalization).  This is
    the compare for results too big to collect (the canon() path held
    ~60 GB of Python tuples for a 100M-row result at sf10); a multiset
    mismatch needs simultaneous collisions of both 32-bit lane SUMS --
    vanishing for non-adversarial engine divergence, and any count
    difference is exact.
    """
    from youtubeanalyzerproject_big_data__spark.functions.hashing import (
        md5_int32_lane_sql,
        md5_int32_lanes,
    )

    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None,
           "compare": "digest-sum"}
    t0 = time.time()
    try:
        sdf = fn(spark, sf)
        scols = sorted(sdf.columns)
        kinds: dict[str, str] = {}
        for f in sdf.schema.fields:
            t = f.dataType.simpleString()
            if t in ("int", "bigint", "smallint", "tinyint", "string"):
                kinds[f.name] = "str"
            elif t in ("double", "float"):
                kinds[f.name] = "micro"
        bad = [c for c in scols if c not in kinds]
        if bad:
            rec["err"] = f"digest compare needs int/string/double columns, got {bad}"
            return rec
        from pyspark.sql import functions as F

        # injective per-value encoding: "<charlen>:<value>" (NULL -> "N");
        # self-delimiting, so values containing ':' or any separator byte
        # can never shift a column boundary
        def _enc(c):
            if kinds[c] == "micro":
                s = F.floor(F.col(c).cast("double") * F.lit(1e6) + F.lit(0.5)).cast("string")
            else:
                s = F.col(c).cast("string")
            return F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )

        rowstr = F.concat(*[_enc(c) for c in scols])
        lanes = md5_int32_lanes(rowstr, "vcmp", 2)
        srow = sdf.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(lanes[0].cast("decimal(38,0)")).alias("h0"),
            F.sum(lanes[1].cast("decimal(38,0)")).alias("h1"),
        ).collect()[0]
        rec["spark_rows"] = srow["n"]
        rec["t_spark_s"] = round(time.time() - t0, 1)
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"spark: {type(e).__name__}: {str(e)[:200]}"
        return rec
    t1 = time.time()
    try:
        ocols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({oracle}) LIMIT 0").description)
        rec["schema_match"] = ocols == scols
        # DuckDB's concat() SKIPS NULL args (unlike Spark's, which nulls the
        # row), so NULL is handled by an explicit CASE on both sides
        def _oenc(c):
            if kinds.get(c) == "micro":
                v = f"CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            else:
                v = c
            return (
                f"CASE WHEN {c} IS NULL THEN 'N' ELSE "
                f"concat(CAST(length(CAST({v} AS VARCHAR)) AS VARCHAR), ':', CAST({v} AS VARCHAR)) END"
            )

        parts = [_oenc(c) for c in ocols]
        s = "concat(" + ", ".join(parts) + ")"
        orow = con.execute(
            f"SELECT COUNT(*) AS n, SUM(CAST({md5_int32_lane_sql(s, 'vcmp', 0)} AS HUGEINT)) AS h0, "
            f"SUM(CAST({md5_int32_lane_sql(s, 'vcmp', 1)} AS HUGEINT)) AS h1 FROM ({oracle})"
        ).fetchone()
        rec["oracle_rows"] = orow[0]
        rec["t_oracle_s"] = round(time.time() - t1, 1)
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"duckdb: {type(e).__name__}: {str(e)[:200]}"
        return rec
    rec["rows_match"] = rec["spark_rows"] == rec["oracle_rows"]
    svals = (None if srow["h0"] is None else int(srow["h0"]), None if srow["h1"] is None else int(srow["h1"]))
    ovals = (None if orow[1] is None else int(orow[1]), None if orow[2] is None else int(orow[2]))
    rec["hash_match"] = rec["rows_match"] and rec["schema_match"] and svals == ovals
    return rec


def _assert_scratch_bounded(spark, warn_gb: float | None = None) -> None:
    """Reap assertion for scale sweeps (VERDICT r8 item 7): the between-query
    JVM GC must actually keep the repo-local scratch bounded.  Free space on
    the scratch volume is checked after each query; below the warn floor
    (env SPARK_GRAFT_MIN_FREE_GB, default 15) it waits out one GC cycle and
    warns loudly, and below a third of the floor the sweep ABORTS cleanly --
    records are flushed incrementally, so a clean stop loses nothing, while
    an ENOSPC mid-shuffle can starve concurrent work (the r8 d2 lesson)."""
    from youtubeanalyzerproject_big_data__spark.session import scratch_free_gb

    if warn_gb is None:
        warn_gb = float(os.environ.get("SPARK_GRAFT_MIN_FREE_GB", "15"))
    try:
        free = scratch_free_gb()
        if free >= warn_gb:
            return
        time.sleep(5)  # let the GC-triggered shuffle cleanup land
        free = scratch_free_gb()
    except OSError as e:
        # a dead guard must be visible in the sweep log, not a silent no-op
        # for a multi-hour sweep (ADVICE r9: scratch root removed mid-run)
        print(f"WARN disk guard disabled: scratch_free_gb failed ({e})", flush=True)
        return
    if free < warn_gb / 3:
        raise RuntimeError(
            f"scratch volume critically low: {free:.1f} GB free < {warn_gb / 3:.1f} GB hard floor -- aborting sweep"
        )
    if free < warn_gb:
        print(f"WARN scratch volume low: {free:.1f} GB free < {warn_gb:.0f} GB floor", flush=True)


class _DiskWatchdog:
    """MID-QUERY disk guard (VERDICT r9 item 4): _assert_scratch_bounded
    runs BETWEEN queries, but one wedge-shuffle at sf30 spiked past the
    box's remaining ~50 GB INSIDE a single query (g6/g10) where no
    between-query check can help.  A daemon thread polls the scratch
    volume while the query runs; below the hard floor (a third of
    SPARK_GRAFT_MIN_FREE_GB, same floor as the between-query abort) it
    cancels all Spark jobs and interrupts the DuckDB connection -- a CLEAN
    per-query failure with the free-space evidence recorded, instead of an
    ENOSPC mid-shuffle that can starve concurrent work (the r8 d2 lesson).

    Usage::

        with _DiskWatchdog(spark, con) as wd:
            ... run one query ...
        # on exception: wd.evidence is non-empty iff the guard fired

    The poll reads one statvfs every ``poll_s`` seconds -- negligible
    against a multi-minute scale query; at ~500 MB/s of shuffle writes a
    5 s poll bounds the overshoot past the floor to ~2.5 GB.
    """

    def __init__(self, spark, con=None, poll_s: float = 5.0, hard_gb: float | None = None):
        import threading

        if hard_gb is None:
            hard_gb = float(os.environ.get("SPARK_GRAFT_MIN_FREE_GB", "15")) / 3
        self._spark, self._con, self._poll_s, self._hard_gb = spark, con, poll_s, hard_gb
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.evidence: dict = {}

    def _run(self) -> None:
        from youtubeanalyzerproject_big_data__spark.session import scratch_free_gb

        while not self._stop.wait(self._poll_s):
            try:
                free = scratch_free_gb()
            except OSError as e:
                print(f"WARN mid-query disk guard disabled: {e}", flush=True)
                return
            if free < self._hard_gb:
                self.evidence.update(free_gb=round(free, 1), floor_gb=round(self._hard_gb, 1))
                print(
                    f"WARN disk guard: {free:.1f} GB free < {self._hard_gb:.1f} GB hard floor "
                    "mid-query -- cancelling Spark jobs / interrupting oracle",
                    flush=True,
                )
                try:
                    self._spark.sparkContext.cancelAllJobs()
                except Exception:
                    pass
                if self._con is not None:
                    try:
                        self._con.interrupt()
                    except Exception:
                        pass
                return

    def err_prefix(self) -> str:
        """Evidence string for the per-query record when the guard fired."""
        if not self.evidence:
            return ""
        return (
            f"disk-guard: cancelled mid-query at {self.evidence['free_gb']} GB free "
            f"(hard floor {self.evidence['floor_gb']} GB); "
        )

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=self._poll_s + 1)
        return False


def _bytes(size: str) -> int:
    """Bytes of a JVM-style size ("8g", "4096m", "512k", "1t", or plain bytes)."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    size = size.strip().lower().removesuffix("b")
    return int(size[:-1]) * units[size[-1]] if size[-1] in units else int(size)


def oracle_memory_mb() -> int:
    """DuckDB's memory budget: half of what the Spark driver heap
    (SPARK_GRAFT_DRIVER_MEM, 8g unless set) leaves of the machine's memory
    (or of the cgroup's limit, when lower); the other half is for the JVM
    beyond its heap, the Python workers and the OS.  DuckDB's own default,
    80% of RAM, next to an 8g driver got the sf1 replay OOM-killed in g13
    on a 15 GB box."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            total = min(total, int(fh.read()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max") or no cgroup file
        pass
    left = total - _bytes(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    return max(512, left // 2 >> 20)


def bound_oracle(con: duckdb.DuckDBPyConnection, spill_dir: str) -> None:
    """Cap ``con`` at :func:`oracle_memory_mb` and spill to ``spill_dir``
    (a capped DuckDB without a temp directory fails an over-budget
    operator instead of spilling it)."""
    con.execute(f"SET memory_limit='{oracle_memory_mb()}MB'")
    con.execute(f"SET temp_directory='{spill_dir}'")


def main() -> None:
    argv = sys.argv[1:]
    json_out = None
    digest_only: set[str] = set()
    # order-independent flag parsing (ADVICE r8: `--digest x --json y` used
    # to silently treat '--json' as the dataset path)
    while argv and argv[0].startswith("--"):
        if argv[0] == "--json" and len(argv) >= 2:
            json_out = argv[1]
            argv = argv[2:]
        elif argv[0] == "--digest" and len(argv) >= 2:
            digest_only = set(argv[1].split(","))
            argv = argv[2:]
        else:
            sys.exit(f"unknown or incomplete flag: {argv[0]} (known: --json OUT, --digest a,b,c)")
    sf = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    records: dict[str, dict] = {}
    spark = get_spark("verify-local")
    con = duckdb.connect()
    # The oracle shares the box with the Spark heap; spill goes to the
    # repo-local scratch (sweep-safe, same as Spark's).
    from youtubeanalyzerproject_big_data__spark.session import scratch_dir

    oracle_scratch = scratch_dir("verora_")
    bound_oracle(con, oracle_scratch)
    # scratch_dir's contract: caller cleans up. atexit covers crash
    # exits too -- verora_* dirs accumulated across sweeps (ADVICE r8).
    import atexit
    import shutil

    atexit.register(shutil.rmtree, oracle_scratch, ignore_errors=True)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def _flush() -> None:
        # incremental: a late crash in a multi-hour scale sweep keeps the
        # finished rows (same contract as tools/segmented_oracle.py)
        if json_out:
            # write-then-rename: a crash mid-dump (seen: MemoryError during
            # a starved sweep) must not truncate the already-banked records
            tmp_path = json_out + ".tmp"
            with open(tmp_path, "w") as f:
                json.dump(records, f, indent=1, sort_keys=True)
            os.replace(tmp_path, json_out)
        # Shuffle files live until ContextCleaner sees their dependencies
        # GC'd; in a one-session 100+-query sweep at sf10 they piled up to
        # ~50 GB of blockmgr dirs and would exhaust the disk before the
        # sweep ends. Force a JVM GC between queries so finished stages'
        # shuffle data is reaped while the next query runs.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        _assert_scratch_bounded(spark)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    # a typo in --digest or the positional name list must FAIL loudly, not
    # silently run nothing (ADVICE r8)
    for nm in sorted((digest_only | only) - set(qs)):
        failures.append(nm)
        records[nm] = {"rows_match": False, "schema_match": False, "hash_match": False,
                       "spark_rows": None, "oracle_rows": None,
                       "err": "unknown query name (not in queries())"}
        print(f"FAIL {nm}: not in queries() -- typo?")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # mid-query disk guard: cancels cleanly instead of ENOSPC (see _DiskWatchdog)
        with _DiskWatchdog(spark, con) as wd:
            if name in digest_only:
                rec = _digest_compare(spark, con, sf, name, qs[name], oracles[name])
                if rec["err"]:
                    rec["err"] = wd.err_prefix() + rec["err"]
                records[name] = rec
                if rec["err"] or not rec["hash_match"]:
                    failures.append(name)
                    print(f"FAIL {name}: digest compare: {rec['err'] or 'mismatch'} {rec}")
                else:
                    print(
                        f"ok   {name}: digest-sum ({rec['spark_rows']} rows, "
                        f"spark {rec['t_spark_s']}s, oracle {rec['t_oracle_s']}s)"
                    )
                _flush()
                continue
            t0 = time.time()
            try:
                sdf = fn(spark, sf)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
                t_spark = round(time.time() - t0, 1)
            except Exception as e:
                failures.append(name)
                records[name] = {"rows_match": False, "schema_match": False, "hash_match": False,
                                 "spark_rows": None, "oracle_rows": None,
                                 "err": wd.err_prefix() + f"spark: {type(e).__name__}: {str(e)[:200]}"}
                print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
                _flush()
                continue
            if name not in oracles:
                records[name] = {"rows_match": len(srows) > 0, "schema_match": None,
                                 "hash_match": None, "spark_rows": len(srows),
                                 "oracle_rows": None, "err": None, "t_spark_s": t_spark}
                print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
                if len(srows) == 0:
                    print(f"WARN {name}: zero rows")
                _flush()
                continue
            t1 = time.time()
            try:
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                t_oracle = round(time.time() - t1, 1)
            except Exception as e:
                failures.append(name)
                records[name] = {"rows_match": False, "schema_match": False, "hash_match": False,
                                 "spark_rows": len(srows), "oracle_rows": None,
                                 "err": wd.err_prefix() + f"duckdb: {type(e).__name__}: {str(e)[:200]}",
                                 "t_spark_s": t_spark}
                print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
                _flush()
                continue
            problems = []
            schema_ok = sorted(scols) == sorted(ocols)
            rows_ok = len(srows) == len(orows)
            values_ok = False
            if not schema_ok:
                problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
            if not rows_ok:
                problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
            if not problems:
                sc, oc = canon(srows, scols), canon(orows, ocols)
                values_ok = sc == oc
                if not values_ok:
                    diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                    problems.append(f"values differ, first diffs: {diff}")
            records[name] = {"rows_match": rows_ok, "schema_match": schema_ok,
                             "hash_match": values_ok, "spark_rows": len(srows),
                             "oracle_rows": len(orows), "err": None,
                             "t_spark_s": t_spark, "t_oracle_s": t_oracle}
            if problems:
                failures.append(name)
                print(f"FAIL {name}: " + "; ".join(p[:400] for p in problems))
            else:
                print(f"ok   {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            _flush()
    if json_out:
        _flush()
        print(f"wrote {json_out} ({len(records)} queries)")
    con.close()  # release temp files before the atexit rmtree
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    if failures:
        # callers keying on exit status (CI, && chains) must see the failure,
        # same contract as segmented_oracle.main (ADVICE r9)
        sys.exit(1)


if __name__ == "__main__":
    main()
