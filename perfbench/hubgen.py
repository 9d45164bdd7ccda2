"""Seeded synthetic model-output hub for the hub workloads.

`generate(out_dir, seed, n_files, n_tail, tasks_json)` writes

    <out_dir>/hub/hub-config/tasks.json      copied from the committed
                                              flu-metrocast config
    <out_dir>/hub/raw/<team>/<file>          the backfill inputs
    <out_dir>/hub/pending/<team>/<file>      files the event tail adds later
    <out_dir>/manifest.json                  what the pipeline must produce

and returns the manifest. The same seed gives byte-identical files.

Inputs are shaped after what the pipeline has to handle:
  * most files are CSV whose `location`, `output_type_id` and `value`
    columns carry the reader's null sentinels;
  * one file in ten is parquet whose physical types differ from the
    hub schema (int32 horizon, string dates and ids, float32 value), so the
    reader must cast on read;
  * one CSV in thirty carries a column the schema does not name, which makes the
    reader run its type-inference job;
  * a handful of files have unsupported or unparseable names.

Every `value` is k/64 for an integer k, an exact binary fraction, so the
manifest's sums are exact whatever order a reader adds them in.
"""
import datetime
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENTINELS = ["na", "NA", "", " ", "null", "Null", "NaN", "nan"]
QUANTILES = ["0.025", "0.05", "0.1", "0.25", "0.5", "0.75", "0.9", "0.95", "0.975"]
# (target, locations, horizons) of the two model tasks in the flu-metrocast config
TASKS = [
    ("ILI ED visits", ["NYC", "Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island"],
     [0, 1, 2, 3, 4]),
    ("Flu ED visits pct", ["Austin", "Houston", "Dallas", "El Paso", "San Antonio"],
     [-1, 0, 1, 2, 3, 4]),
]
ROUNDS = [f"2025-{m:02d}-{d:02d}" for m, d in [
    (1, 25), (2, 1), (2, 8), (2, 15), (2, 22), (3, 1), (3, 8), (3, 15), (3, 22),
    (3, 29), (4, 5), (4, 12), (4, 19), (4, 26), (5, 3), (5, 10), (5, 17), (5, 24), (5, 31)]]
SCHEMA_COLS = ["reference_date", "target", "horizon", "location", "target_end_date",
               "output_type", "output_type_id", "value"]
# Spark types the transformed output must carry (FIXTURES.md section 1, with
# the types the flu-metrocast config derives: all-numeric quantile ids make
# `output_type_id` double under `output_type_id_datatype: auto`)
OUT_TYPES = {"reference_date": "date", "target": "string", "horizon": "bigint",
             "location": "string", "target_end_date": "date", "output_type": "string",
             "output_type_id": "double", "value": "double", "round_id": "string",
             "model_id": "string"}
EXTRA_COL = "n_members"
NULLABLE = ["location", "output_type_id", "value"]
# names the pipeline must skip (unsupported type) or reject (unparseable)
BAD_NAMES = [
    ("README.txt", "skip"), ("notes.json", "skip"), ("2025-02-01-team-x", "skip"),
    ("model-without-date.csv", "error"), ("2025-02-01.csv", "error"),
]


def _add_days(iso, days):
    return (datetime.date.fromisoformat(iso) + datetime.timedelta(days=days)).isoformat()


def _rows(rng, n, round_id):
    """Column values of one file and which cells are null."""
    target, locs, hors = TASKS[int(rng.integers(len(TASKS)))]
    horizon = rng.choice(hors, n)
    loc = np.array(locs, dtype=object)[rng.integers(len(locs), size=n)]
    qid = np.array(QUANTILES, dtype=object)[rng.integers(len(QUANTILES), size=n)]
    k = rng.integers(0, 6400, size=n)
    nulls = {c: rng.random(n) < 0.03 for c in NULLABLE}
    ted = {h: _add_days(round_id, 7 * int(h)) for h in hors}
    return {
        "target": target, "horizon": horizon, "location": loc, "qid": qid, "k": k,
        "null": nulls, "target_end_date": [ted[int(h)] for h in horizon],
    }


def _expect(r, n):
    k_valid = r["k"][~r["null"]["value"]]
    return {
        "rows": int(n),
        "nulls": {c: int(r["null"][c].sum()) for c in NULLABLE},
        # exact: every term is a multiple of 1/64 and the total stays far below 2**47
        "value_sum": float(int(k_valid.sum())) / 64.0,
    }


def _write_csv(path, rng, r, n, round_id, extra):
    cols = SCHEMA_COLS + ([EXTRA_COL] if extra else [])
    sent = np.array(SENTINELS, dtype=object)

    def cell(col, i, text):
        return sent[rng.integers(len(sent))] if r["null"][col][i] else text

    lines = [",".join(cols)]
    members = rng.integers(1, 40, size=n)
    for i in range(n):
        vals = [
            round_id, r["target"], str(int(r["horizon"][i])),
            cell("location", i, r["location"][i]),
            r["target_end_date"][i], "quantile",
            cell("output_type_id", i, r["qid"][i]),
            cell("value", i, repr(int(r["k"][i]) / 64.0)),
        ]
        if extra:
            vals.append(str(int(members[i])))
        lines.append(",".join(vals))
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines) + "\n")


def _write_parquet(path, r, n, round_id):
    def masked(values, col):
        return [None if r["null"][col][i] else values[i] for i in range(n)]

    table = pa.table({
        "reference_date": pa.array([round_id] * n, pa.string()),
        "target": pa.array([r["target"]] * n, pa.string()),
        "horizon": pa.array(r["horizon"].astype(np.int32), pa.int32()),
        "location": pa.array(masked(list(r["location"]), "location"), pa.string()),
        "target_end_date": pa.array(
            np.array(r["target_end_date"], dtype="datetime64[D]"), pa.date32()),
        "output_type": pa.array(["quantile"] * n, pa.string()),
        "output_type_id": pa.array(masked(list(r["qid"]), "output_type_id"), pa.string()),
        "value": pa.array(masked([float(k) / 64.0 for k in r["k"]], "value"), pa.float32()),
    })
    pq.write_table(table, path, compression="snappy")


def _model_file(rng, root, team, model, round_id, rows, kind, extra):
    stem = f"{round_id}-{team}-{model}"
    suffix = ".parquet" if kind == "parquet" else ".csv"
    rel = f"{team}/{stem}{suffix}"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    r = _rows(rng, rows, round_id)
    if kind == "parquet":
        _write_parquet(path, r, rows, round_id)
        cols = SCHEMA_COLS + ["round_id", "model_id"]
    else:
        _write_csv(path, rng, r, rows, round_id, extra)
        cols = SCHEMA_COLS + ([EXTRA_COL] if extra else []) + ["round_id", "model_id"]
    types = dict(OUT_TYPES, **{EXTRA_COL: "bigint"})
    entry = {"path": rel, "stem": stem, "kind": kind, "action": "add",
             "round_id": round_id, "model_id": f"{team}-{model}",
             "columns": [[c, types[c]] for c in cols],
             "bytes": os.path.getsize(path)}
    entry.update(_expect(r, rows))
    return entry


def generate(out_dir, seed, n_files, n_tail, tasks_json, rows_per_file=2000):
    """Write the hub and its manifest under `out_dir`; return the manifest.

    `n_files` model-output files go under `raw/` for the backfill, plus
    the files in BAD_NAMES; `n_tail` storage events follow it (new-file adds
    from `pending/`, overwrite re-adds and removes).
    """
    rng = np.random.default_rng(seed)
    hub = os.path.join(out_dir, "hub")
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(os.path.join(hub, "hub-config"))
    shutil.copyfile(tasks_json, os.path.join(hub, "hub-config", "tasks.json"))
    raw, pending = os.path.join(hub, "raw"), os.path.join(hub, "pending")

    n_new = n_tail * 2 // 5
    n_teams = max(4, (n_files + n_new) // len(ROUNDS) + 1)
    slots = [(f"team{t:02d}", "m" + str(t % 3), ROUNDS[rd])
             for t in range(n_teams) for rd in range(len(ROUNDS))]
    order = rng.permutation(len(slots))
    files, tail_files = [], []
    for j, idx in enumerate(order[:n_files + n_new]):
        team, model, round_id = slots[idx]
        # fixed shares, so that seeds differ in content and not in mix
        kind = "parquet" if j % 10 == 9 else "csv"
        extra = j % 30 == 14
        rows = int(rows_per_file * (0.9 + 0.2 * rng.random()))
        root = raw if j < n_files else pending
        (files if j < n_files else tail_files).append(
            _model_file(rng, root, team, model, round_id, rows, kind, extra))
    for name, action in BAD_NAMES:
        rel = f"misc/{name}"
        path = os.path.join(raw, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("reference_date,value\n2025-02-01,1.0\n")
        files.append({"path": rel, "kind": "other", "action": action,
                      "bytes": os.path.getsize(path)})

    # event tail: new-file adds, overwrite re-adds of backfilled files and
    # removes; a removed file is never touched again within one tail. Its
    # mix is fixed too: one re-add is the first parquet file, every other
    # re-add and every remove a CSV without the extra column
    good = [f for f in files if f["action"] == "add"]
    parquet = [f["path"] for f in good if f["kind"] == "parquet"][:1]
    plain = [f["path"] for f in good if f["kind"] == "csv" and EXTRA_COL not in dict(f["columns"])]
    picks = [plain[i] for i in rng.permutation(len(plain))]
    n_remove = n_tail // 5
    n_readd = n_tail - n_new - n_remove
    removes = picks[:n_remove]
    readds = parquet + picks[n_remove:n_remove + n_readd - len(parquet)]
    events = ([{"op": "add_new", "path": f["path"]} for f in tail_files]
              + [{"op": "readd", "path": p} for p in readds]
              + [{"op": "remove", "path": p} for p in removes])
    events = [events[i] for i in rng.permutation(len(events))]

    manifest = {"seed": seed, "hub": "hub", "files": files, "tail_files": tail_files,
                "events": events}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def scan_queries(manifest, seed, n):
    """`n` readHub queries over the manifest's hub: every tenth covers the
    whole hub; the rest are pruned by round ids and model ids to a few
    files around a randomly chosen one. Each carries its expected file and
    row counts and, per (round_id, model_id, output_type), its expected
    aggregate.
    """
    rng = np.random.default_rng(seed + 1)
    good = [f for f in manifest["files"] if f["action"] == "add"]
    rounds = sorted({f["round_id"] for f in good})
    models = sorted({f["model_id"] for f in good})
    queries = []
    for i in range(n):
        anchor = good[int(rng.integers(len(good)))]
        other_round = rounds[int(rng.integers(len(rounds)))]
        other_model = models[int(rng.integers(len(models)))]
        if i % 10 == 0:
            q_rounds, q_models = [], []
        elif i % 2:
            q_rounds, q_models = [anchor["round_id"]], sorted({anchor["model_id"], other_model})
        else:
            q_rounds, q_models = sorted({anchor["round_id"], other_round}), [anchor["model_id"]]
        hit = [f for f in good if (not q_rounds or f["round_id"] in q_rounds)
               and (not q_models or f["model_id"] in q_models)]
        queries.append({
            "rounds": q_rounds, "models": q_models, "files": len(hit),
            "rows": sum(f["rows"] for f in hit),
            "expect": sorted([f["round_id"], f["model_id"], "quantile", f["rows"],
                              f["nulls"]["output_type_id"], f["value_sum"]] for f in hit)})
    return queries
