"""Seeded input generators for the benchmark workloads.

Every generator is single-process and deterministic in its seed: the
same seed writes byte-identical files. The program under test only ever
sees the files written here; the expected counts each generator returns
are what the harness checks the program's outputs against.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TfL weekly journeys


def _station_name(rng, sid):
    streets = ["Bridge", "Market", "Church", "Park", "Station", "Mill",
               "Castle", "Canal", "Garden", "Victoria", "Albert", "King"]
    kinds = ["Road", "Street", "Lane", "Square", "Place", "Walk"]
    return f"{streets[rng.randrange(len(streets))]} {kinds[rng.randrange(len(kinds))]} {sid}"


def _weather_day(rng, day):
    t = round(rng.uniform(-2.0, 24.0), 1)
    return {
        "datetime": day.isoformat(),
        "tempmax": round(t + rng.uniform(1, 6), 1),
        "tempmin": round(t - rng.uniform(1, 6), 1),
        "temp": t, "feelslike": round(t - rng.uniform(0, 3), 1),
        "humidity": round(rng.uniform(40, 99), 1),
        "precip": round(rng.uniform(0, 8), 2),
        "windgust": round(rng.uniform(5, 60), 1),
        "windspeed": round(rng.uniform(2, 35), 1),
        "winddir": round(rng.uniform(0, 359), 1),
        "sealevelpressure": round(rng.uniform(980, 1040), 1),
        "visibility": round(rng.uniform(2, 30), 1),
        "solarradiation": round(rng.uniform(5, 300), 1),
        "uvindex": float(rng.randrange(0, 9)),
        "moonphase": round(rng.random(), 2),
        "sunrise": "07:%02d:00" % rng.randrange(60),
        "sunset": "17:%02d:00" % rng.randrange(60),
        "cloudcover": round(rng.uniform(0, 100), 1),
        "conditions": rng.choice(["Rain", "Clear", "Overcast"]),
        "description": "generated day", "icon": "cloudy",
        "preciptype": ["rain"], "source": "obs", "stations": ["s1"],
        "datetimeEpoch": int(dt.datetime(day.year, day.month, day.day,
                                         tzinfo=dt.timezone.utc).timestamp()),
        "dew": round(t - 3, 1), "precipcover": 4.0,
        "sunriseEpoch": 0, "sunsetEpoch": 0, "precipprob": 10.0,
        "snow": 0.0, "snowdepth": 0.0, "severerisk": 5.0,
    }


GEN_A = ("Rental Id,Bike Id,Start Date,End Date,Start station number,"
         "Start station,End station number,End station,Total duration (ms)")
GEN_B = ("Rental Id,Bike Id,Bike model,Start date,End date,"
         "Start station number,Start station,End station number,"
         "End station,Total duration")
MALFORMED = ["not-a-date", "TBC", "99/99/9999 99:99"]

def gen_tfl(out, seed, weeks, rows_per_week):
    """Write stations.csv, weather/{days,data,bare}.json and one journey
    CSV per week under `out`. Weeks are consecutive, Monday-aligned, and
    start on a seeded Monday in 2021-2022; the first half uses the 2021
    header generation and the rest the 2022 one. Returns the manifest:
    per-week file, header generation, sizes and the cumulative counts a
    correct pipeline must reproduce."""
    rng = random.Random(seed * 7919 + 1)
    npr = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "weather"), exist_ok=True)
    os.makedirs(os.path.join(out, "weeks"), exist_ok=True)

    n_stations = rng.randrange(780, 821)
    station_ids = sorted(rng.sample(range(1, 1200), n_stations))
    names = {sid: _station_name(rng, sid) for sid in station_ids}
    lines = ["Station.Id,StationName,longitude,latitude,easting,northing"]
    for sid in station_ids:
        east = "" if rng.random() < 0.02 else "%.1f" % rng.uniform(520000, 540000)
        lines.append("%d,%s,%.5f,%.5f,%s,%.1f" % (
            sid, names[sid], rng.uniform(-0.25, 0.0), rng.uniform(51.45, 51.56),
            east, rng.uniform(175000, 185000)))
    _write(os.path.join(out, "stations.csv"), "\n".join(lines) + "\n")

    unknown_pool = sorted(rng.sample(range(5000, 6000), 40))
    for sid in unknown_pool:
        names[sid] = _station_name(rng, sid)

    first = dt.date(2021, 1, 4) + dt.timedelta(weeks=rng.randrange(0, 100))
    # Weather covers the whole span plus a margin, split across the three
    # root shapes the loader accepts.
    days = [first + dt.timedelta(days=i) for i in range(-3, weeks * 7 + 4)]
    third = len(days) // 3
    shapes = [("days.json", lambda d: {"days": d}),
              ("data.json", lambda d: {"data": d}),
              ("bare.json", lambda d: d)]
    for i, (fname, wrap) in enumerate(shapes):
        part = days[i * third:] if i == 2 else days[i * third:(i + 1) * third]
        _write(os.path.join(out, "weather", fname),
               json.dumps(wrap([_weather_day(rng, d) for d in part])))

    malformed_share = rng.uniform(0.004, 0.012)
    null_share = rng.uniform(0.004, 0.012)
    unknown_share = rng.uniform(0.002, 0.006)
    known = np.array(station_ids)
    pool = np.array(unknown_pool)
    manifest = {"seed": seed, "stations": n_stations, "weeks": []}
    cum_rows = cum_malformed = 0
    unknown_seen = set()
    rental = 10_000_000 + rng.randrange(1_000_000)
    for w in range(weeks):
        # Fixed size: the seed varies what the rows hold, not how many.
        n = rows_per_week
        start = dt.datetime.combine(first + dt.timedelta(weeks=w), dt.time())
        gen_b = w >= (weeks + 1) // 2
        minute = npr.integers(0, 7 * 24 * 60, n)
        dur = npr.integers(2, 120, n)
        s_ids = known[npr.integers(0, len(known), n)]
        e_ids = known[npr.integers(0, len(known), n)]
        unk_s = npr.random(n) < unknown_share
        unk_e = npr.random(n) < unknown_share
        s_ids = np.where(unk_s, pool[npr.integers(0, len(pool), n)], s_ids)
        e_ids = np.where(unk_e, pool[npr.integers(0, len(pool), n)], e_ids)
        null_s = npr.random(n) < null_share
        null_e = npr.random(n) < null_share
        bad = npr.random(n) < malformed_share
        bad_kind = npr.integers(0, len(MALFORMED), n)
        bikes = npr.integers(1000, 30000, n)
        fmt = {}

        def ts(m):
            s = fmt.get(m)
            if s is None:
                s = (start + dt.timedelta(minutes=int(m))).strftime("%d/%m/%Y %H:%M")
                fmt[m] = s
            return s

        out_lines = [GEN_B if gen_b else GEN_A]
        for i in range(n):
            sd = MALFORMED[bad_kind[i]] if bad[i] else ts(minute[i])
            ed = ts(minute[i] + dur[i])
            if null_s[i]:
                sn, sname = "", ""
            else:
                sn = str(s_ids[i]); sname = names[int(s_ids[i])]
                if unk_s[i]:
                    unknown_seen.add(int(s_ids[i]))
            if null_e[i]:
                en, ename = "", ""
            else:
                en = str(e_ids[i]); ename = names[int(e_ids[i])]
                if unk_e[i]:
                    unknown_seen.add(int(e_ids[i]))
            if gen_b:
                model = "PBSC_EBIKE" if bikes[i] % 5 == 0 else "CLASSIC"
                out_lines.append(f"{rental + i},{bikes[i]},{model},{sd},{ed},"
                                 f"{sn},{sname},{en},{ename},{dur[i]}m")
            else:
                out_lines.append(f"{rental + i},{bikes[i]},{sd},{ed},{sn},"
                                 f"{sname},{en},{ename},{dur[i] * 60000}")
        rental += n
        path = os.path.join(out, "weeks", "week_%02d.csv" % w)
        _write(path, "\n".join(out_lines) + "\n")
        cum_rows += n
        cum_malformed += int(bad.sum())
        manifest["weeks"].append({
            "file": os.path.relpath(path, out), "gen_b": gen_b,
            "start": start.date().isoformat(), "rows": n,
            "bytes": os.path.getsize(path), "cum_rows": cum_rows,
            "cum_malformed": cum_malformed,
            "dim_station": n_stations + len(unknown_seen)})
    return manifest


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


# ---------------------------------------------------------------------------
# Curation corpus and serving probes

# The sf0.1 `documents` and `embeddings` tables, copied verbatim; the
# corpus is drawn from their rows.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
BOILER = ("this content is provided under the creative commons attribution "
          "license terms only").split()
FOOTER = "subscribe to the newsletter for weekly updates"
CLASSIFIER_BUCKETS = 256
REPLICA_BASE = 1_000_000_000_000
PROBE_FAMILIES = ("bm25", "lm", "ann")


def _lined(toks, footer):
    """Eight-token lines plus an optional nav-bar footer line: the
    sf0.1 text has no newlines, so this is the line structure the
    catalog's own cadence entry (q146) synthesizes."""
    lines = [" ".join(toks[i:i + 8]) for i in range(0, len(toks), 8)] or [""]
    return "\n".join(lines) + ("\n" + FOOTER if footer else "")


def _write_docs(path, ids, texts, langs, sources, batches=None):
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts),
            "lang": pa.array(langs), "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    if batches is not None:
        cols["batch"] = pa.array(batches, pa.int32())
    pq.write_table(pa.table(cols), path, compression="snappy")


def gen_corpus(out, seed, n_docs, batches, n_bench, probes_per_family):
    """The curation corpus and its serving probes, drawn from the sf0.1
    tables under data/. Writes `docs.parquet` (doc_id, text, lang,
    source, n_chars, batch), `benchmark.parquet`, `embeddings.parquet`
    (the real rows of the corpus's documents), the classifier's
    `weights.parquet`, and the probe inputs `probe_docs.parquet` and
    `probe_vecs.parquet`.

    The seed picks which `n_docs` documents form the corpus and which
    `n_bench` form the decontamination benchmark, which documents get
    the planted boilerplate span and the footer line (about half each),
    which fifth gets a near-duplicate replica ("copy" + the same
    tokens, an id far above the table's), which fifth of the embedded
    documents gets a near-copy of another's vector, the batch of every
    document, and the probes: BM25 term sets drawn with a Zipf skew over
    the corpus vocabulary, held-out documents for the LM family and
    held-out embedding rows for the ANN family, in a seeded order."""
    rng = random.Random(seed * 15485863 + 5)
    npr = np.random.default_rng(seed + 29)
    os.makedirs(out, exist_ok=True)
    table = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(DATA, "embeddings.parquet"))
    n_table = len(table["doc_id"])
    drawn = rng.sample(range(n_table), n_docs + n_bench + probes_per_family)
    corpus = sorted(drawn[:n_docs])
    bench = sorted(drawn[n_docs:n_docs + n_bench])
    held_docs = drawn[n_docs + n_bench:]

    def row(i):
        return (table["doc_id"][i], table["text"][i].split(),
                table["lang"][i], table["source"][i])

    # Fixed sizes: the seed picks which documents get a replica, not how
    # many.
    replicated = set(rng.sample(corpus, n_docs // 5))
    rows = []
    counts = {"span_planted": 0, "footer": 0, "replicas": len(replicated)}
    for i in corpus:
        doc_id, toks, lang, src = row(i)
        if rng.random() < 0.5:
            off = rng.randrange(1, 4)
            toks = toks[:off] + BOILER + toks[off:]
            counts["span_planted"] += 1
        footer = rng.random() < 0.5
        counts["footer"] += footer
        rows.append((doc_id, _lined(toks, footer), lang, src))
        if i in replicated:
            rows.append((REPLICA_BASE + doc_id,
                         _lined(["copy"] + toks, footer), lang, src))
    order = list(range(len(rows)))
    rng.shuffle(order)
    batch_of = {i: pos * batches // len(rows) for pos, i in enumerate(order)}
    rows = sorted((r + (batch_of[i],) for i, r in enumerate(rows)),
                  key=lambda r: r[0])
    _write_docs(os.path.join(out, "docs.parquet"), *map(list, zip(*rows)))
    brows = [row(i) for i in bench]
    _write_docs(os.path.join(out, "benchmark.parquet"), [b[0] for b in brows],
                [" ".join(b[1]) for b in brows], [b[2] for b in brows],
                [b[3] for b in brows])

    # Real embedding rows of the corpus's documents (the table covers
    # the first ids only, so part of the corpus has none, as in q146).
    # Natural semantic duplicates are rare in the table, so a fifth of
    # those documents get a near-copy of another one's vector; ANN
    # probes are rows of documents outside the corpus.
    ids = emb.column("vec_id").to_pylist()
    in_corpus = {table["doc_id"][i] for i in corpus}
    mine = emb.filter(pa.array([v in in_corpus for v in ids]))
    vecs = np.array(mine.column("embedding").to_pylist(), dtype=np.float32)
    n_vec = len(vecs)
    for a in sorted(rng.sample(range(n_vec), n_vec // 5)):
        b = rng.randrange(n_vec)
        vecs[a] = vecs[b] + npr.normal(0, 0.002, vecs.shape[1]).astype(np.float32)
    mine = mine.set_column(mine.schema.get_field_index("embedding"),
                           "embedding", pa.array(list(vecs), pa.list_(pa.float32())))
    pq.write_table(mine, os.path.join(out, "embeddings.parquet"))
    outside = sorted(set(ids) - in_corpus)
    probe_vec_ids = sorted(rng.sample(outside, probes_per_family))
    pq.write_table(
        emb.filter(pa.array([v in set(probe_vec_ids) for v in ids]))
           .select(["vec_id", "embedding"]),
        os.path.join(out, "probe_vecs.parquet"))

    # LM probes score held-out documents, lined like the corpus.
    held = [row(i) for i in sorted(held_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array([h[0] for h in held], pa.int64()),
        "text": pa.array([_lined(h[1], False) for h in held])}),
        os.path.join(out, "probe_docs.parquet"))

    # BM25 term sets: one to three distinct terms, Zipf-skewed over the
    # corpus vocabulary ranked by frequency.
    freq = {}
    for r in rows:
        for t in r[1].split():
            freq[t] = freq.get(t, 0) + 1
    vocab = sorted(freq, key=lambda t: (-freq[t], t))
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(vocab))]
    term_sets = []
    for _ in range(probes_per_family):
        want = rng.randrange(1, 4)
        terms = []
        while len(terms) < want:
            t = rng.choices(vocab, weights)[0]
            if t not in terms:
                terms.append(t)
        term_sets.append(terms)

    # Probe order: every family's probes once, shuffled; the session
    # swap to the next state version falls halfway.
    schedule = [(f, k) for f in PROBE_FAMILIES for k in range(probes_per_family)]
    rng.shuffle(schedule)

    # Pre-trained quality-classifier weights (bucket, weight), the artifact
    # the cadence's model gate takes; small, so the gate keeps nearly all.
    pq.write_table(pa.table({
        "b": pa.array(range(CLASSIFIER_BUCKETS), pa.int64()),
        "w": pa.array(np.round(npr.normal(0, 0.05, CLASSIFIER_BUCKETS), 8))}),
        os.path.join(out, "weights.parquet"))
    per_batch = [sum(1 for r in rows if r[4] == b) for b in range(batches)]
    counts["vector_copies"] = n_vec // 5
    return {"docs": len(rows), "base_docs": n_docs, "batches": per_batch,
            "benchmark": len(bench), "embeddings": n_vec, "planted": counts,
            "probes": {"bm25_terms": term_sets,
                       "lm_doc_ids": [h[0] for h in held],
                       "ann_vec_ids": probe_vec_ids,
                       "schedule": [list(s) for s in schedule]}}


# ---------------------------------------------------------------------------
# Operator entries

# The catalog's operator hot spots that no pipeline workload calls: the
# codec tier, the shingle-index consumers, PQ/IVF search and classifier
# training.
OPERATORS = ["q21_ngram_jaccard", "q56_containment", "q53_dedup_clusters",
             "q58_dedup_survivors", "q76_media_decode", "q89_image_neardup",
             "q90_video_framesample", "q147_audio_neardup", "q73_pq_search",
             "q74_pq_search_ivf", "q82_quality_classifier",
             "q108_classifier_calibration"]


def gen_operators():
    """The operator_mix manifest: the OPERATORS entries in their fixed
    order, and the rows and bytes of the sf0.1 tables under data/ they
    read. Nothing here depends on the seed: the tables are fixed, and a
    seeded order would move the process's cold start onto other entries
    each run, which spreads the entry-latency percentiles across seeds
    more than any seed-driven input does."""
    tables = [os.path.join(DATA, t) for t in ("documents.parquet",
                                               "embeddings.parquet")]
    return {"operators": OPERATORS,
            "rows": sum(pq.ParquetFile(t).metadata.num_rows for t in tables),
            "bytes": sum(os.path.getsize(t) for t in tables)}
