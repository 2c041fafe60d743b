#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB oracles and compare (sorting columns by name, rows by all
columns). Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Each oracle runs in its own forked child process, so an oracle that
kills its process (a DuckDB segfault, an allocator abort) is reported as
a failure with its name and exit status and the sweep goes on. The exit
status is non-zero if any oracle failed or crashed."""
import sys, os, json, glob, signal, traceback
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]

def fresh_con():
    # A sweep often starts seconds after a Spark JVM exits (or churns
    # connections right after a heavy oracle); transient RAM pressure can
    # fail the very first allocation. Retry briefly before giving up.
    import time
    last = None
    for attempt in range(6):
        try:
            return _fresh_con()
        except Exception as e:
            last = e
            time.sleep(5)
    raise last

def _fresh_con():
    c = duckdb.connect()
    # The payload-literal oracles (q69 family) are ~20 MB of SQL whose
    # execution drives the process to ~47k live memory MAPS (measured via
    # /proc/self/maps: DuckDB's large allocations each mmap, multiplied
    # by glibc arenas). At the kernel default vm.max_map_count = 65530
    # that brushes the per-process map limit, which surfaces as spurious
    # "Failed to allocate N bytes (bad allocation)" at ANY later
    # allocation — including a fresh connection's CREATE VIEW. Root fix
    # on the build host: `sysctl -w vm.max_map_count=1048576` (three
    # consecutive full sweeps clean after; flaky at the default).
    # Defense-in-depth below: fewer threads → fewer arenas → fewer maps.
    c.execute(f"SET threads TO {int(os.environ.get('GRAFT_ORACLE_THREADS', '8'))}")
    c.execute(f"SET memory_limit = '{os.environ.get('GRAFT_ORACLE_MEMLIMIT', '24GB')}'")
    # an in-memory duckdb has no spill target by default — give blocking
    # operators one so graph-scale rehearsal oracles degrade to disk
    # instead of dying at the limit
    c.execute("SET temp_directory = '/tmp/duckdb_oracle_spill'")
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        c.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return c

def check_one(name):
    """Compare one Verify dump with its oracle; print one status line.
    Returns True when it matches (or has no oracle: rows-only)."""
    d = os.path.join(outdir, name)
    spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))])
    if name not in oracles:
        print(f"{name:32s} rows-only: {len(spark_df)} rows")
        return True
    # A fresh process and connection per oracle: DuckDB accumulates
    # allocator state (and memory maps) across executes, and in a
    # full-registry sweep the first too-large allocation would otherwise
    # poison every later oracle.
    con = fresh_con()
    try:
        # Optional per-oracle wall-clock cap (seconds) for scale sweeps:
        # a quadratic oracle that slipped the exclusion list should log a
        # timeout and let the sweep continue, not hang it. Uses DuckDB's
        # interrupt() from a watchdog thread; 0/unset = no cap.
        cap = float(os.environ.get("GRAFT_ORACLE_TIMEOUT", "0"))
        if cap > 0:
            import threading
            done = threading.Event()
            def _watchdog():
                if not done.wait(cap) and not done.is_set():
                    con.interrupt()
            t = threading.Thread(target=_watchdog, daemon=True)
            t.start()
            try:
                oracle_df = con.execute(oracles[name]).df()
            finally:
                done.set()
                t.join()
        else:
            oracle_df = con.execute(oracles[name]).df()
    except Exception as e:
        print(f"{name:32s} ORACLE SQL ERROR: {e}")
        return False
    finally:
        con.close()  # the child leaves with os._exit: drop the spill files now
    a = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    b = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    status = []
    if list(a.columns) != list(b.columns):
        status.append(f"SCHEMA MISMATCH {list(a.columns)} vs {list(b.columns)}")
    elif len(a) != len(b):
        status.append(f"ROWCOUNT {len(a)} vs {len(b)}")
    else:
        a = a.sort_values(list(a.columns)).reset_index(drop=True)
        b = b.sort_values(list(b.columns)).reset_index(drop=True)
        for c in a.columns:
            av, bv = a[c], b[c]
            # Dtype-strict: the driver's hash renders values, so int64 2 vs
            # float64 2.0 (or Decimal('2') vs 2) hash-differ even when equal.
            # Coercing here is what let q90/q142 pass locally while failing
            # the driver for two rounds — flag the class mismatch instead.
            # Classes: float ('f'), integer ('i'/'u' — widths render alike),
            # other (object/bool/datetime — int-vs-Decimal renders '2' both
            # ways locally but not through the driver, so int-vs-object
            # must fail too).
            kclass = lambda dt: 'f' if dt.kind == 'f' else ('i' if dt.kind in 'iu' else 'o')
            ak, bk = kclass(av.dtype), kclass(bv.dtype)
            if ak != bk:
                status.append(
                    f"col {c}: DTYPE {av.dtype}(spark) vs {bv.dtype}(oracle) — "
                    "different type classes render differently in the driver hash")
            elif ak == 'f':
                if not np.array_equal(av.values.astype(float), bv.values.astype(float), equal_nan=True):
                    mx = np.nanmax(np.abs(av.values.astype(float) - bv.values.astype(float)))
                    status.append(f"col {c} float diff max={mx}")
            else:
                if not av.astype(str).equals(bv.astype(str)):
                    n = (av.astype(str) != bv.astype(str)).sum()
                    status.append(f"col {c}: {n} mismatches")
    if status:
        print(f"{name:32s} FAIL: {'; '.join(status)}")
        return False
    print(f"{name:32s} OK ({len(a)} rows)")
    return True


def check_isolated(name):
    """Run check_one in a forked child; True only if the child exits 0.
    A child killed by a signal or exiting abnormally is reported here."""
    sys.stdout.flush()
    sys.stderr.flush()
    pid = os.fork()
    if pid == 0:
        code = 1
        try:
            code = 0 if check_one(name) else 1
        except BaseException as e:
            print(f"{name:32s} FAIL: uncaught {type(e).__name__}: {e}")
            traceback.print_exc()
        finally:
            sys.stdout.flush()
            sys.stderr.flush()
            os._exit(code)
    _, status = os.waitpid(pid, 0)
    if os.WIFSIGNALED(status):
        sig = os.WTERMSIG(status)
        print(f"{name:32s} CRASHED: killed by {signal.Signals(sig).name} (exit code {128 + sig})")
        return False
    code = os.WEXITSTATUS(status)
    if code not in (0, 1):
        print(f"{name:32s} CRASHED: exit code {code}")
    return code == 0

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
for name in sorted(os.listdir(outdir)):
    if os.path.isdir(os.path.join(outdir, name)) and not check_isolated(name):
        fails.append(name)
# A registered oracle whose Verify dump is MISSING must fail, not skip:
# a mid-sweep write error (e.g. transient disk-full) would otherwise read
# as a green sweep. (Caught live in round 8: a concurrent DuckDB spill
# filled the disk, q69/q75's dumps failed, and the sweep still said
# "0 failures".) Name-filtered runs stay usable because Verify dumps
# only the filtered subset's oracle SQL.
present = {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}
for name in sorted(set(oracles) - present):
    print(f"{name:32s} FAIL: registered oracle has no Verify dump (write failed?)")
    fails.append(name)
print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
sys.exit(1 if fails else 0)
