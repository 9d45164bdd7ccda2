"""Output checks. Each returns (attempted, failed, problems): every
operation the workload ran counts once, and fails when it threw, when its
outcome differs from the one expected, or when its output differs from the
generator's manifest. `problems` lists the first few failures in words.
"""
import math
import os

import pyarrow.parquet as pq

SPARK_TYPE = {"date32[day]": "date", "string": "string", "large_string": "string",
              "int64": "bigint", "int32": "int", "double": "double", "float": "float"}
NULLABLE = ["location", "output_type_id", "value"]


def _output_problem(path, f):
    """Why the transformed output of manifest entry `f` is wrong, or None."""
    if not os.path.exists(path):
        return "missing"
    t = pq.read_table(path)
    cols = [[fld.name, SPARK_TYPE.get(str(fld.type), str(fld.type))] for fld in t.schema]
    if cols != f["columns"]:
        return f"schema {cols}"
    if t.num_rows != f["rows"]:
        return f"rows {t.num_rows} != {f['rows']}"
    for c in NULLABLE:
        if t.column(c).null_count != f["nulls"][c]:
            return f"{c} nulls {t.column(c).null_count} != {f['nulls'][c]}"
    total = math.fsum(v for v in t.column("value").to_pylist() if v is not None)
    if total != f["value_sum"]:
        return f"value sum {total} != {f['value_sum']}"
    for c, want in (("round_id", f["round_id"]), ("model_id", f["model_id"])):
        if set(t.column(c).to_pylist()) != {want}:
            return f"{c} != {want}"
    return None


def hub_backfill(manifest, record):
    by_path = {f["path"]: f for f in manifest["files"] + manifest["tail_files"]}
    attempted = failed = 0
    problems = []

    def fail(what):
        nonlocal failed
        failed += 1
        if len(problems) < 10:
            problems.append(what)

    for rep in record["reps"]:
        out = rep["out"]
        results = {r["path"]: r for r in rep["results"]}
        removed = {e["name"] for e in rep["tail"] if e["event"] == "remove"}
        expected = {}
        for f in manifest["files"]:
            attempted += 1
            r = results.get(f["path"])
            if not rep["add_ok"] or r is None or r["action"] != f["action"]:
                fail(f"backfill {f['path']}: {r['action'] if r else rep['add_error'] or 'no result'}"
                     f" != {f['action']}")
            elif f["action"] == "add" and f["path"] not in removed:
                expected[f["stem"] + ".parquet"] = ("backfill", f)
        for e in rep["tail"]:
            attempted += 1
            want = "delete" if e["event"] == "remove" else "add"
            if not e["ok"] or e["action"] != want:
                fail(f"{e['event']} {e['name']}: {e['action'] or e['error']} != {want}")
            elif want == "add":
                expected[by_path[e["name"]]["stem"] + ".parquet"] = (e["event"], by_path[e["name"]])
        present = set(os.listdir(out)) if os.path.isdir(out) else set()
        for name in sorted(present - set(expected)):
            fail(f"unexpected output {name}")  # leftovers such as .tmp-graft-* or removed files
        for name, (op, f) in sorted(expected.items()):
            why = _output_problem(os.path.join(out, name), f)
            if why:
                fail(f"{op} {f['path']}: {why}")
    return attempted, failed, problems


def hub_scan(manifest, record):
    attempted = failed = 0
    problems = []
    for rep in record["reps"]:
        for op, q in zip(rep["ops"], manifest["queries"]):
            attempted += 1
            got = sorted(op.get("rows", [])) if op["ok"] else None
            if got != q["expect"]:
                failed += 1
                if len(problems) < 10:
                    problems.append(f"{op['name']} {q['rounds']} {q['models']}: "
                                    f"{op['error'] or 'aggregates differ from the manifest'}")
    return attempted, failed, problems


def corpus_ops(recorded, record):
    """Every call's digest must equal the recorded one, and a warm call
    must be served from stored artifacts: it may build none."""
    attempted = failed = 0
    problems = []
    digests = {}
    for p in record["reps"]:
        for op in p["ops"]:
            attempted += 1
            bad = op["error"] if not op["ok"] else None
            if op["ok"]:
                digests.setdefault(op["name"], set()).add(op["digest"])
                if op["digest"] != recorded.get(op["name"]):
                    bad = f"{p['label']} digest {op['digest']} != recorded {recorded.get(op['name'])}"
                elif p["label"] != "cold" and op["builds"] > 0:
                    bad = f"{p['label']} call built {op['builds']} artifacts"
            if bad:
                failed += 1
                if len(problems) < 10:
                    problems.append(f"{op['name']}: {bad}")
    return attempted, failed, problems, digests
