"""Output checks run in the same command as the measurement.

query_mix: rows with an `oracleSql` entry are compared against DuckDB by
the repo's own `tools/compare.py`, on the results the set-up pass wrote
the way `graft.Verify` does. Other rows are checked by row count plus an
order-independent fingerprint against perfbench/expected/query_mix.json.

pubsub: every produced (partition, offset) is delivered exactly once,
offsets are contiguous from 0 in every partition, and every delivered
row carries the key it was produced with.

Each check returns a list of failures, one {"op": ..., "reason": ...} per
failing row or batch; nothing is skipped.
"""
import concurrent.futures
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected",
                        "query_mix.json")
_LINE = re.compile(r"^\s+([✓✗~])\s+([A-Za-z0-9_]+)(.*)$")


def fingerprint(result_dir):
    """(row count, order-independent fingerprint) of a result directory
    of parquet files: columns sorted by name, each row hashed, the hashes
    summed mod 2**64."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    table = pa.concat_tables(tables) if tables else None
    if table is None or table.num_rows == 0:
        return 0, "0" * 16
    cols = sorted(table.column_names)
    columns = [table.column(c).to_pylist() for c in cols]
    acc = 0
    for row in zip(*columns):
        digest = hashlib.sha256(repr(row).encode()).digest()
        acc = (acc + int.from_bytes(digest[:8], "big")) % (1 << 64)
    return table.num_rows, f"{acc:016x}"


def oracle_compare(root, sf_dir, dump_dir, oracles, workers):
    """Runs tools/compare.py on every row in `oracles`, split round-robin
    into `workers` groups that run at once: two oracles take ~8 s each on
    one core, so one compare over all rows takes ~19 s. Returns
    {row: (status, detail)} with status 'match', 'mismatch' or 'rows-only'."""
    def compare(i, names):
        # compare.py checks every result directory beside its oracle file
        group_dir = os.path.join(dump_dir, f"_compare{i}")
        os.makedirs(group_dir)
        for name in names:
            os.rename(os.path.join(dump_dir, name), os.path.join(group_dir, name))
        with open(os.path.join(group_dir, "oracle_sql.json"), "w") as fh:
            json.dump({name: oracles[name] for name in names}, fh)
        return subprocess.run([sys.executable, os.path.join(root, "tools", "compare.py"),
                               sf_dir, group_dir], stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True).stdout

    names = sorted(oracles)
    groups = [names[i::workers] for i in range(workers) if names[i::workers]]
    status = {}
    with concurrent.futures.ThreadPoolExecutor(len(groups) or 1) as pool:
        for out in pool.map(compare, range(len(groups)), groups):
            for line in out.splitlines():
                m = _LINE.match(line)
                if m:
                    kind = {"✓": "match", "✗": "mismatch", "~": "rows-only"}[m.group(1)]
                    status[m.group(2)] = (kind, m.group(3).strip(" :"))
    return status


def query_mix(root, sf_dir, dump_dir, setup_ops, workers, expected_path=EXPECTED):
    """Checks every row the set-up pass ran: oracle rows through
    tools/compare.py, the others against their recorded fingerprint."""
    failures = []
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(expected_path) as fh:
        expected = json.load(fh)
    ran = {o["op"] for o in setup_ops if o["ok"]}
    status = oracle_compare(root, sf_dir, dump_dir,
                            {k: v for k, v in oracles.items() if k in ran}, workers)
    for o in setup_ops:
        name = o["op"]
        if not o["ok"]:
            failures.append({"op": name, "reason": f"set-up run threw: {o['error']}"})
        elif name in oracles:
            kind, detail = status.get(name, ("missing", "not compared"))
            if kind != "match":
                failures.append({"op": name, "reason": f"oracle {kind}: {detail}"})
        else:
            rows, fp = fingerprint(os.path.join(dump_dir, name))
            want = expected.get(name)
            if want is None:
                failures.append({"op": name, "reason": "no oracle and no recorded fingerprint "
                                 f"(this run: {rows} rows, fingerprint {fp})"})
            elif (rows, fp) != (want["rows"], want["fingerprint"]):
                failures.append({"op": name, "reason":
                                 f"fingerprint {rows} rows {fp}, recorded "
                                 f"{want['rows']} rows {want['fingerprint']}"})
    return failures


def pubsub(appends, deliveries, produced_keys):
    """Exactly-once, contiguity and key checks. `appends` are the
    generator's records (primer included), `deliveries` the consumer's
    microbatches, `produced_keys[b][i]` the key of row i of batch b.
    Returns (failures, failed batch numbers)."""
    failures, bad = [], set()
    ok_batches = {a["batch"] for a in appends if a["ok"]}
    for a in appends:
        if not a["ok"]:
            failures.append({"op": f"batch {a['batch']}", "reason": f"append threw: {a['error']}"})
            bad.add(a["batch"])
    seen = {}
    per_partition = {}
    for d in deliveries:
        for p, o, seq, key in zip(d["partition"], d["offset"], d["seq"], d["key"]):
            seen[seq] = seen.get(seq, 0) + 1
            per_partition.setdefault(p, []).append((o, seq // 1000000))
            b, i = divmod(seq, 1000000)
            if b >= len(produced_keys) or i >= len(produced_keys[b]) or produced_keys[b][i] != key:
                failures.append({"op": f"batch {b}", "reason": f"row {i} delivered with key {key}"})
                bad.add(b)
    for b in sorted(ok_batches):
        rows = len(produced_keys[b])
        counts = [seen.get(b * 1000000 + i, 0) for i in range(rows)]
        missing = sum(1 for c in counts if c == 0)
        dups = sum(1 for c in counts if c > 1)
        if missing or dups:
            failures.append({"op": f"batch {b}",
                             "reason": f"{missing} rows never delivered, {dups} delivered twice"})
            bad.add(b)
    for p, entries in sorted(per_partition.items()):
        offsets = sorted(o for o, _ in entries)
        if offsets != list(range(len(offsets))):
            failures.append({"op": f"partition {p}", "reason": "offsets not contiguous from 0"})
            bad.update(b for _, b in entries)
    return failures, bad
