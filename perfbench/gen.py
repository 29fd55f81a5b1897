"""Seeded input generators. The same seed gives byte-identical inputs;
the engine only ever receives the paths written here.

- read_inputs:   the query sequence of `hydromet_read`;
- corpus_inputs: the `corpus_prep` corpus, alphabet-permuted replicas of
                 the base documents and rotated copies of the embeddings;
- ingest_inputs: the `hydromet_ingest` series catalog and, per day cycle,
                 the CSV station files, the streaming landing batch and
                 the counts each cycle's invariants are checked against.
"""
import csv
import datetime as dt
import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]

# Hydromet read queries. The mix is unweighted: no measured analyst
# read mix exists to weight them by, so each round runs each once. The
# count is odd so the median read falls inside one query's latencies,
# not in the gap between two.
READ_QUERIES = [
    "q_catalog_enrich", "q_censored_stats", "q_corrections", "q_daily_agg",
    "q_feb29", "q_last_point", "q_locf",
]

# The corpus pipeline's stages, in pipeline order: filter, exact and
# near-duplicate removal with connected components, contamination
# screen, KN-LM scoring, streaming near-dup screen, BPE encoding and the
# shard manifest.
CORPUS_STAGES = [
    "q_filter_decision", "q_dedup_exact", "q_minhash_lsh", "q_dedup_clusters",
    "q_contamination", "q_kn_perplexity", "q_stream_screen", "q_bpe_encode",
    "q_shard_manifest",
]


def read_inputs(seed, rounds=12):
    """Rounds of the draw: each round holds every query once, in a seeded
    order, so every complete round does the same work whatever the seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        r = list(READ_QUERIES)
        rng.shuffle(r)
        out.append(r)
    return {"queries": list(READ_QUERIES), "rounds": out}


def _permutation(rng):
    letters = list(string.ascii_lowercase)
    rng.shuffle(letters)
    return str.maketrans(string.ascii_lowercase, "".join(letters))


def corpus_inputs(seed, base_dir, out_dir, factor):
    """`factor` replicas of the base documents. Replica k shifts doc_id by
    k*(max+1) and maps the lowercase alphabet through its own seeded
    permutation: token lengths and counts stay, cross-replica overlap is
    noise, so duplicate density does not change with the factor.
    Embeddings are replicated the same way, each replica's vectors
    rotated by a seeded offset. Returns the document count."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    for t in BASE_TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copyfile(f"{base_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
    docs = pq.read_table(f"{base_dir}/documents.parquet")
    embs = pq.read_table(f"{base_dir}/embeddings.parquet")
    d_span = max(docs.column("doc_id").to_pylist()) + 1
    v_span = max(embs.column("vec_id").to_pylist()) + 1
    doc_parts, emb_parts = [], []
    for k in range(factor):
        table = _permutation(rng)
        shift = rng.randrange(1, 1 << 16)
        doc_parts.append(docs.set_column(
            docs.schema.get_field_index("doc_id"), docs.schema.field("doc_id"),
            pa.array([i + k * d_span for i in docs.column("doc_id").to_pylist()], pa.int64()),
        ).set_column(
            docs.schema.get_field_index("text"), docs.schema.field("text"),
            pa.array([None if s is None else s.translate(table)
                      for s in docs.column("text").to_pylist()], pa.string()),
        ))
        vecs = [v[shift % len(v):] + v[:shift % len(v)] if v else v
                for v in embs.column("embedding").to_pylist()]
        emb_parts.append(embs.set_column(
            embs.schema.get_field_index("vec_id"), embs.schema.field("vec_id"),
            pa.array([i + k * v_span for i in embs.column("vec_id").to_pylist()], pa.int64()),
        ).set_column(
            embs.schema.get_field_index("embedding"), embs.schema.field("embedding"),
            pa.array(vecs, embs.schema.field("embedding").type),
        ))
    pq.write_table(pa.concat_tables(doc_parts), f"{out_dir}/documents.parquet")
    pq.write_table(pa.concat_tables(emb_parts), f"{out_dir}/embeddings.parquet")
    return docs.num_rows * factor


# hydromet_ingest catalog: the shape is fixed so every seed does the same
# work; the seed moves the dates, values, station names and late points.
# (rate seconds, daily aggregation, local-day offset hours)
CSV_SERIES = [(900, "mean", -7), (3600, "sum", 0)]
STATION_PARAMS = [("temp_c", "mean", -7), ("rh_pct", "max", -7)]
BACKLOG_DAYS = 3
LATE_SHARE = 0.05
LATE_SENTINEL = -900.0
FMT = "%Y-%m-%d %H:%M:%S"


def ingest_inputs(seed, out_dir, cycles):
    """Cycle 0 lands a BACKLOG_DAYS history; cycle k >= 1 lands day k of
    new points, plus a LATE_SHARE of late points (dated inside the
    previous day at or before the last stored point, valued at or below
    LATE_SENTINEL) that the ingest guard must drop."""
    rng = random.Random(seed)
    start = dt.datetime(2023, 1, 1) + dt.timedelta(days=rng.randrange(0, 300))
    series = [{"id": i + 1, "fx": "csv", "rate_s": r, "agg": a, "offset": o}
              for i, (r, a, o) in enumerate(CSV_SERIES)]
    station = f"S{rng.randrange(100, 1000)}"
    for p, a, o in STATION_PARAMS:
        series.append({"id": len(series) + 1, "fx": "weather", "rate_s": 3600, "agg": a,
                       "offset": o, "station": station, "parameter": p})
    level = {s["id"]: rng.uniform(1.0, 50.0) for s in series}
    out = []
    for k in range(cycles):
        lo = start if k == 0 else start + dt.timedelta(days=BACKLOG_DAYS + k - 1)
        hi = start + dt.timedelta(days=BACKLOG_DAYS + k)
        cdir = os.path.join(out_dir, f"cycle_{k:03d}")
        os.makedirs(cdir, exist_ok=True)
        appended = stream_rows = csv_records = 0
        changed = set()
        stream = {"timeseries_id": [], "datetime": [], "value": []}
        for s in series:
            step = dt.timedelta(seconds=s["rate_s"])
            times = []
            t = lo
            while t < hi:
                times.append(t)
                t += step
            appended += len(times)
            for t in times:
                changed.add((s["id"], (t + dt.timedelta(hours=s["offset"])).date().isoformat()))
            if s["fx"] != "csv":
                continue
            rows = []
            for t in times:
                level[s["id"]] += rng.gauss(0.0, 0.2)
                rows.append((t, round(level[s["id"]], 3)))
            stream_rows += len(rows)
            if k > 0:
                late = max(1, int(len(times) * LATE_SHARE))
                for _ in range(late):
                    # at or before the series' last stored point
                    t = lo - dt.timedelta(seconds=s["rate_s"] + rng.randrange(0, 86400 - s["rate_s"]))
                    rows.append((t, round(LATE_SENTINEL - rng.random() * 99.0, 3)))
            rng.shuffle(rows)
            csv_records += len(rows)
            with open(os.path.join(cdir, f"series_{s['id']}.csv"), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(["datetime", "value", "qualifier_code", "approval_label"])
                for t, v in rows:
                    w.writerow([t.strftime(FMT), v, rng.choice(["", "-1", "10", "20"]),
                                rng.choice(["final", "provisional", "Provisoire"])])
            for t, v in rows:
                stream["timeseries_id"].append(s["id"])
                stream["datetime"].append(t.replace(tzinfo=dt.timezone.utc))
                stream["value"].append(v)
        pq.write_table(pa.table({
            "timeseries_id": pa.array(stream["timeseries_id"], pa.int64()),
            "datetime": pa.array(stream["datetime"], pa.timestamp("us", tz="UTC")),
            "value": pa.array(stream["value"], pa.float64()),
        }), os.path.join(cdir, "stream.parquet"))
        out.append({
            "dir": os.path.abspath(cdir), "from": lo.strftime(FMT), "to": hi.strftime(FMT),
            "appended": appended, "stream_rows": stream_rows, "csv_records": csv_records,
            "changed_days": sorted([i, d] for i, d in changed),
        })
    return {"series": series, "cycles": out}
