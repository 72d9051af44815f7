"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and checks it against a DuckDB
oracle over the same sf dir: row count, column names, and an
order-insensitive value comparison (exact match after canonicalization).

Usage: python tools/verify_local.py [--json out.json] [--digest a,b,c] [sf_dir] [query_name ...]

The oracle is the query's ``oracle_sql()`` twin, unless the fixture's
lineitem has more than ONE_SHOT_MAX_ROWS rows: then each query with a
segmented twin (``tools/segmented_oracle.TWINS``) is checked against that
twin instead, and its record carries ``"oracle": "segmented-iteration"``.

With ``--json out.json``, also writes a driver-format per-query record
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}) so a full-contract correctness artifact can be committed each round
(the driver itself samples only ~50 of the contract queries per round).
Rows-only queries (no oracle) record null for the oracle-side fields.
``--digest a,b,c`` compares those queries by digest sum (_digest_compare)
instead of collecting their results.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import math
import os
import shutil
import sys
import time
from collections.abc import Callable

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools import segmented_oracle
from youtubeanalyzerproject_big_data__spark.session import get_spark, scratch_dir


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
        # ``con`` is the connection the running oracle uses; twin_connection
        # points it at a segmented twin's own file while the twin runs
        self._spark, self.con, self._poll_s, self._hard_gb = spark, con, poll_s, hard_gb
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
                if self.con is not None:
                    try:
                        self.con.interrupt()
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


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def bound_oracle(con: duckdb.DuckDBPyConnection, sf: str, spill_dir: str) -> None:
    """Cap ``con`` at :func:`oracle_memory_mb`, spill to ``spill_dir`` (a
    capped DuckDB without a temp directory fails an over-budget operator
    instead of spilling it), and view ``sf``'s tables."""
    con.execute(f"SET memory_limit='{oracle_memory_mb()}MB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")


@contextlib.contextmanager
def twin_connection(sf: str, spill_dir: str, name: str, wd: _DiskWatchdog):
    """A fresh on-disk DuckDB for one segmented twin, which ``wd``
    interrupts while the twin runs; deleted on exit.

    DuckDB files never shrink: a twin's high-water mark would stay
    allocated in a shared file for the rest of the run -- at sf30 the
    kcore self-join's ~750M-row round tables left the shared file holding
    most of the volume, and the Spark leg that ran next hit the disk-guard
    floor with the query itself healthy.  A file per twin returns the
    space as soon as the twin's result is compared."""
    path = os.path.join(spill_dir, f"twin_{name}.duckdb")
    con = duckdb.connect(path)
    shared, wd.con = wd.con, con
    try:
        bound_oracle(con, sf, spill_dir)
        yield con
    finally:
        wd.con = shared
        con.close()
        for p in (path, path + ".wal"):
            if os.path.exists(p):
                os.remove(p)


# sf0.1's lineitem row count: the largest fixture the driver runs, and every
# one-shot oracle_sql() twin is hash-exact on it.  On larger (tiled)
# fixtures the heavy one-shot oracles outgrow temp disk or memory (FIXTURES.md
# "Scale-replay exclusions"), so those queries go to their segmented twins.
ONE_SHOT_MAX_ROWS = 600_000


def pick_oracles(sf: str) -> dict[str, str | Callable]:
    """Each query's oracle over ``sf``: its ``oracle_sql()`` SQL or, when
    ``sf``'s lineitem has more than ONE_SHOT_MAX_ROWS rows (read from the
    parquet footer), its segmented twin where it has one."""
    oracles = entrymod.oracle_sql()
    if pq.ParquetFile(os.path.join(sf, "lineitem.parquet")).metadata.num_rows > ONE_SHOT_MAX_ROWS:
        oracles.update(segmented_oracle.TWINS)
    return oracles


def check(spark, con, sf: str, name: str, fn, oracle, digest: bool, wd: _DiskWatchdog, spill_dir: str) -> tuple[dict, str]:
    """Check one query against ``oracle`` -- one-shot SQL run on ``con``,
    a segmented twin run on its own file (twin_connection), or None for a
    rows-only query -- and return its record and its ok/FAIL line.

    The oracle runs first, so a twin's file is gone before the Spark leg
    runs; under ``digest`` the Spark leg runs inside the twin's scope, as
    the digest sum aggregates the twin's final SELECT over its tables."""
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    twin = callable(oracle)
    if twin:
        rec["oracle"] = "segmented-iteration"
    leg = "duckdb"
    t0 = time.time()
    try:
        if digest and (oracle is None or isinstance(oracle, segmented_oracle.Rows)):
            # known from the declaration: fail before a twin spends its run
            raise TypeError(f"digest compare needs an oracle SELECT, {name} has {'a rows twin' if oracle else 'no oracle'}")
        with twin_connection(sf, spill_dir, name, wd) if twin else contextlib.nullcontext(con) as ocon:
            final = oracle(ocon) if twin else oracle  # SQL, a twin's rows, or None
            if digest:
                t_stage = time.time() - t0
                rec.update(_digest_compare(spark, ocon, sf, name, fn, final))
                if rec["err"]:
                    rec["err"] = wd.err_prefix() + rec["err"]
                    return rec, f"FAIL {name}: digest compare: {rec['err']} {rec}"
                rec["t_oracle_s"] = round(rec["t_oracle_s"] + t_stage, 1)
                if not rec["hash_match"]:
                    return rec, f"FAIL {name}: digest compare: mismatch {rec}"
                return rec, (
                    f"ok   {name}: digest-sum ({rec['spark_rows']} rows, "
                    f"spark {rec['t_spark_s']}s, oracle {rec['t_oracle_s']}s)"
                )
            if isinstance(final, str):
                res = ocon.execute(final)
                ocols, orows = [d[0] for d in res.description], res.fetchall()
            else:
                ocols, orows = None, final
            t_oracle = round(time.time() - t0, 1)
        leg = "spark"
        t1 = time.time()
        sdf = fn(spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        rec.update(spark_rows=len(srows), t_spark_s=round(time.time() - t1, 1))
    except Exception as e:  # noqa: BLE001
        rec["err"] = wd.err_prefix() + f"{leg}: {type(e).__name__}: {str(e)[:200]}"
        return rec, f"FAIL {name}: {rec['err']}"
    if orows is None:
        rec.update(rows_match=len(srows) > 0, schema_match=None, hash_match=None)
        return rec, f"ok   {name}: rows-only ({len(srows)} rows, {time.time() - t0:.1f}s)" + (
            "" if srows else f"\nWARN {name}: zero rows"
        )
    if ocols is None:
        ocols = scols  # a twin's rows come in the engine's column order
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
    rec.update(rows_match=rows_ok, schema_match=schema_ok, hash_match=values_ok,
               oracle_rows=len(orows), t_oracle_s=t_oracle)
    if problems:
        return rec, f"FAIL {name}: " + "; ".join(p[:400] for p in problems)
    return rec, f"ok   {name} ({len(srows)} rows, {'segmented twin, ' if twin else ''}{time.time() - t0:.1f}s)"


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
    # The oracle shares the box with the Spark heap; spill and twin files go
    # to the repo-local scratch (sweep-safe, same as Spark's).  scratch_dir's
    # contract: caller cleans up. atexit covers crash exits too -- verora_*
    # dirs accumulated across sweeps (ADVICE r8).
    oracle_scratch = scratch_dir("verora_")
    atexit.register(shutil.rmtree, oracle_scratch, ignore_errors=True)
    con = duckdb.connect()
    bound_oracle(con, sf, oracle_scratch)

    def _flush() -> None:
        # incremental: a late crash in a multi-hour scale sweep keeps the
        # finished rows
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
        # the scratch-floor abort (RuntimeError) propagates ON PURPOSE -- it
        # must stop the sweep, not be recorded as one query's failure
        _assert_scratch_bounded(spark)

    qs = entrymod.queries()
    oracles = pick_oracles(sf)
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
            rec, line = check(spark, con, sf, name, fn, oracles.get(name), name in digest_only, wd, oracle_scratch)
        records[name] = rec
        print(line, flush=True)
        if rec["err"] or rec["hash_match"] is False:
            failures.append(name)
        _flush()
    if json_out:
        _flush()
        print(f"wrote {json_out} ({len(records)} queries)")
    con.close()  # release temp files before the atexit rmtree
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    if failures:
        # callers keying on exit status (CI, && chains) must see the failure
        sys.exit(1)


if __name__ == "__main__":
    main()
