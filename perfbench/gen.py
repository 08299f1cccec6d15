"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files. Each one returns a small ``dict`` of the
answers it planted (expected detected types, data-quality violation counts,
duplicate clusters, ...) so the correctness checks can compare against them.

The generators only write files; the package under test receives nothing but
those files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

AIRLINES = {
    "6E": "IndiGo", "AI": "Air India", "UK": "Vistara", "SG": "SpiceJet",
    "G8": "Go First", "QP": "Akasa Air", "I5": "AirAsia India", "S5": "Star Air",
}
AIRPORTS = [
    "BOM", "DEL", "BLR", "MAA", "CCU", "HYD", "COK", "AMD", "PNQ", "GOI",
    "IXC", "JAI", "LKO", "PAT", "BBI", "GAU", "IXB", "SXR", "IXJ", "ATQ",
    "IDR", "BHO", "NAG", "VNS", "IXR", "RPR", "TRV", "CJB", "IXM", "IXE",
    "VTZ", "VGA", "TIR", "RJA", "IXZ", "PBD", "BDQ", "STV", "UDR", "JDH",
    "IXL", "DED", "GOP", "IXU", "HBX", "IXG", "KNU", "AGR", "GWL", "JLR",
]

# Expected detected type for every flights column, including the planted
# type-voting traps: comma-thousands integers (Passengers), y/n booleans
# (Codeshare) and EU dates (FlightDate). FlightNo values with the "6E"
# prefix parse as floats ("6E102" == 6e102) but stay a minority, so the
# column must still vote string.
FLIGHT_TYPES = {
    "FlightNo": "string", "Airline": "string", "Origin": "string",
    "Destination": "string", "ScheduledDeparture": "timestamp",
    "ActualDeparture": "timestamp", "ScheduledArrival": "timestamp",
    "ActualArrival": "timestamp", "DelayMinutes": "integer",
    "Status": "string", "Passengers": "integer", "Codeshare": "boolean",
    "FlightDate": "date",
}


def _iso(base: np.datetime64, minutes: np.ndarray) -> np.ndarray:
    ts = base + minutes.astype("timedelta64[m]")
    return np.datetime_as_string(ts, unit="s")


def write_flights(out_dir: str, seed: int, n_rows: int, n_files: int) -> dict:
    """Flights fact CSV files (FIXTURES F2 plus three type-voting trap
    columns) and the ``routes`` lookup CSV (FIXTURES F1).

    Planted data-quality violations among non-cancelled rows, with exact
    counts: empty ``ActualArrival`` cells, out-of-range ``DelayMinutes``
    and ``Diverted`` statuses. About 2% of flights carry a flight number
    missing from ``routes`` and drop out of the Gold inner join."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    prefixes = np.array(list(AIRLINES))
    n_routes = 400
    nums = rng.choice(np.arange(100, 10000), size=n_routes, replace=False)
    r_pref = prefixes[np.arange(n_routes) % len(prefixes)]
    route_no = np.char.add(r_pref, nums.astype(str))
    r_orig = rng.integers(0, len(AIRPORTS), n_routes)
    r_dest = (r_orig + rng.integers(1, len(AIRPORTS), n_routes)) % len(AIRPORTS)
    airports = np.array(AIRPORTS)
    sched_min = rng.integers(0, 288, n_routes) * 5
    routes = pd.DataFrame({
        "FlightNo": route_no,
        "Origin": airports[r_orig],
        "Destination": airports[r_dest],
        "ScheduledDepartureTime": [f"{m // 60:02d}:{m % 60:02d}" for m in sched_min],
    })
    routes_path = os.path.join(out_dir, "routes.csv")
    routes.to_csv(routes_path, index=False)

    ridx = rng.integers(0, n_routes, n_rows)
    flight_no = route_no[ridx].copy()
    unknown = rng.random(n_rows) < 0.02
    flight_no[unknown] = np.char.add(prefixes[rng.integers(0, 8, unknown.sum())],
                                     rng.integers(10000, 20000, unknown.sum()).astype(str))
    airline = np.array([AIRLINES[f[:2]] for f in flight_no])
    base = np.datetime64("2024-01-01T00:00")
    dep = rng.integers(0, 30 * 288, n_rows) * 5
    dur = rng.integers(12, 48, n_rows) * 5
    dep_delay = rng.integers(-10, 120, n_rows)
    arr_delay = rng.integers(-20, 180, n_rows)
    status = np.where(arr_delay > 15, "Delayed", "On Time").astype(object)
    cancelled = rng.random(n_rows) < 0.05
    status[cancelled] = "Cancelled"
    live = np.flatnonzero(~cancelled)
    picks = rng.choice(live, size=3 * max(1, n_rows // 1000), replace=False)
    k = len(picks) // 3
    null_arr, bad_delay, diverted = picks[:k], picks[k:2 * k], picks[2 * k:]
    status[diverted] = "Diverted"
    delay_col = arr_delay.astype(object)
    delay_col[bad_delay] = rng.choice([-500, 9999], size=k)
    act_arr = _iso(base, dep + dur + arr_delay).astype(object)
    act_arr[null_arr] = ""
    ymd = np.datetime_as_string(base + dep.astype("timedelta64[m]"), unit="D")
    fdate = [f"{d[8:10]}-{d[5:7]}-{d[:4]}" for d in ymd]  # EU dd-mm-yyyy
    df = pd.DataFrame({
        "FlightNo": flight_no,
        "Airline": airline,
        "Origin": airports[r_orig[ridx]],
        "Destination": airports[r_dest[ridx]],
        "ScheduledDeparture": _iso(base, dep),
        "ActualDeparture": _iso(base, dep + dep_delay),
        "ScheduledArrival": _iso(base, dep + dur),
        "ActualArrival": act_arr,
        "DelayMinutes": delay_col,
        "Status": status,
        "Passengers": [f"{p:,}" for p in rng.integers(1000, 10000, n_rows)],
        "Codeshare": np.where(rng.random(n_rows) < 0.3, "y", "n"),
        "FlightDate": fdate,
    })
    data_dir = os.path.join(out_dir, "flights")
    os.makedirs(data_dir, exist_ok=True)
    paths = []
    for i, part in enumerate(np.array_split(np.arange(n_rows), n_files)):
        p = os.path.join(data_dir, f"part-{i:03d}.csv")
        df.iloc[part].to_csv(p, index=False)
        paths.append(p)
    return {
        "flights_dir": data_dir,
        "routes_path": routes_path,
        "files": paths,
        "rows": n_rows,
        "bytes": sum(os.path.getsize(p) for p in paths),
        "types": dict(FLIGHT_TYPES),
        "dq": {"arrival_not_null": k, "delay_in_range": k, "status_accepted": k},
        "cancelled": int(cancelled.sum()),
    }


SENSOR_LOCATIONS = ["Pune", "Delhi", "Mumbai", "Chennai", "Kolkata",
                    "Jaipur", "Kochi", "Indore", "Bhopal", "Surat"]
SENSOR_TYPES = {"sensor_id": "string", "temperature": "double",
                "humidity": "double", "pressure": "double",
                "timestamp": "timestamp", "location": "string"}


def sensor_batches(seed: int, n_batches: int, rows_per_batch: int) -> list[str]:
    """Sensor-readings batches (FIXTURES F3) as JSON-lines text, one string
    per batch. ``(sensor_id, timestamp)`` is unique across all batches, so
    a duplicated row anywhere in Bronze is detectable. About 1% of readings
    are planted anomalies (outside -20..50 degC after conversion)."""
    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 15)
    out = []
    for b in range(n_batches):
        n = rows_per_batch
        sid = rng.integers(0, 50, n)
        temp = np.round(rng.normal(70.0, 15.0, n), 1)
        anom = rng.random(n) < 0.01
        temp[anom] = np.where(rng.random(anom.sum()) < 0.5, -20.5, 140.2)
        hum = np.round(rng.uniform(10, 95, n), 1)
        pres = np.round(rng.uniform(950, 1050, n), 1)
        secs = b * rows_per_batch + np.arange(n)
        lines = []
        for i in range(n):
            ts = (base + dt.timedelta(seconds=int(secs[i]) * 7)).isoformat()
            lines.append(json.dumps({
                "sensor_id": f"S{sid[i]:03d}", "temperature": float(temp[i]),
                "humidity": float(hum[i]), "pressure": float(pres[i]),
                "timestamp": ts, "location": SENSOR_LOCATIONS[sid[i] % 10],
            }))
        out.append("\n".join(lines) + "\n")
    return out


# recent_changes (FIXTURES F4): the REST-like record shape the interactive
# workload authors transforms against. Timestamps arrive as strings and
# vote timestamp; bot/minor are JSON booleans.
CHANGE_TYPES = {"type": "string", "ns": "integer", "title": "string",
                "user": "string", "timestamp": "timestamp",
                "oldlen": "integer", "newlen": "integer", "bot": "boolean",
                "minor": "boolean", "rcid": "integer", "pageid": "integer",
                "revid": "integer", "old_revid": "integer",
                "comment": "string"}


def change_records(seed: int, n: int, offset: int = 0) -> list[dict]:
    rng = np.random.default_rng([seed, offset])
    base = dt.datetime(2024, 3, 1)
    kinds = np.array(["edit", "new", "log", "categorize"])
    recs = []
    for i in range(n):
        rid = offset + i
        user = f"user{rng.integers(0, 300)}" + ("Bot" if rng.random() < 0.1 else "")
        oldlen = int(rng.integers(0, 50000))
        recs.append({
            "type": str(kinds[rng.integers(0, 4)]),
            "ns": int(rng.choice([0, 0, 0, 1, 2, 4])),
            "title": f"Page {rng.integers(0, 5000)}",
            "user": user,
            "timestamp": (base + dt.timedelta(seconds=rid * 13)).isoformat(),
            "oldlen": oldlen,
            "newlen": oldlen + int(rng.integers(-500, 2000)),
            "bot": user.endswith("Bot"),
            "minor": bool(rng.random() < 0.3),
            "rcid": 1_000_000 + rid,
            "pageid": int(rng.integers(1, 10_000_000)),
            "revid": 50_000_000 + 2 * rid,
            "old_revid": 50_000_000 + 2 * rid - 1,
            "comment": f"edit {rid}",
        })
    return recs


def write_changes(out_dir: str, seed: int, n_rows: int, n_files: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    per = n_rows // n_files
    paths = []
    for f in range(n_files):
        p = os.path.join(out_dir, f"changes-{f:03d}.json")
        with open(p, "w") as fh:
            for r in change_records(seed, per, offset=f * per):
                fh.write(json.dumps(r) + "\n")
        paths.append(p)
    return {"dir": out_dir, "files": paths, "rows": per * n_files,
            "types": dict(CHANGE_TYPES)}


# -- corpus -----------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to")


def _md5_hex0(doc_id: int) -> str:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[0]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_files: int = 4) -> dict:
    """A documents corpus with the columns of the ``documents`` table.

    Planted: exact-duplicate clusters (some differ only in whitespace,
    which the clean stage normalizes), near-duplicate clusters (one or two
    words substituted), PII (emails, IPv4 addresses, phone numbers),
    low-quality documents (too short or without stopwords) and training
    documents that copy a 6-word span of an eval-slice document
    (``md5(doc_id)`` starting with ``0``). The vocabulary is large enough
    that unplanted documents almost never collide in the MinHash bands."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=rng.integers(3, 9)))
             for _ in range(4000)]

    def doc(n_words: int) -> list[str]:
        words = [vocab[j] for j in rng.integers(0, len(vocab), n_words)]
        for pos in rng.choice(n_words, size=max(1, n_words // 8), replace=False):
            words[pos] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
        return words

    texts: list[str] = []
    n_base = int(n_docs * 0.8)
    for _ in range(n_base):
        w = doc(int(rng.integers(30, 120)))
        r = rng.random()
        if r < 0.03:
            w.insert(int(rng.integers(0, len(w))), f"{vocab[rng.integers(0, 4000)]}@example.com")
        elif r < 0.05:
            w.insert(int(rng.integers(0, len(w))), f"10.{rng.integers(0, 256)}.{rng.integers(0, 256)}.{rng.integers(1, 255)}")
        elif r < 0.07:
            w[int(rng.integers(0, len(w))):0] = ["+1", "555", f"{rng.integers(100, 999)}", f"{rng.integers(1000, 9999)}"]
        elif r < 0.09:
            w = w[:int(rng.integers(5, 18))]  # too short for the quality gate
        elif r < 0.10:
            w = [x for x in w if x not in STOPWORDS] or [vocab[0]]
        texts.append(" ".join(w))
    exact_planted = 0
    near_planted = 0
    while len(texts) < n_docs:
        src = int(rng.integers(0, n_base))
        w = texts[src].split(" ")
        if len(w) < 30:
            continue
        if rng.random() < 0.5:
            texts.append(texts[src] if rng.random() < 0.5 else "  ".join(w))
            exact_planted += 1
        else:
            w = list(w)
            for pos in rng.choice(len(w), size=int(rng.integers(1, 3)), replace=False):
                w[pos] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(w))
            near_planted += 1
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    eval_ids = [i for i in range(n_docs) if _md5_hex0(i) == "0"]
    contam_planted = 0
    for i in rng.choice(n_docs, size=n_docs // 50, replace=False):
        if _md5_hex0(int(i)) == "0":
            continue
        ev = texts[eval_ids[int(rng.integers(0, len(eval_ids)))]].split(" ")
        if len(ev) < 12:
            continue
        s = int(rng.integers(0, len(ev) - 6))
        texts[i] = texts[i] + " " + " ".join(ev[s:s + 6])
        contam_planted += 1
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)]
    sources = np.array([f"src{j}" for j in range(5)])[rng.integers(0, 5, n_docs)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f, idx in enumerate(np.array_split(np.arange(n_docs), n_files)):
        p = os.path.join(out_dir, f"documents-{f:03d}.parquet")
        pq.write_table(table.take(pa.array(idx)), p)
        paths.append(p)
    return {"dir": out_dir, "files": paths, "docs": n_docs,
            "exact_planted": exact_planted, "near_planted": near_planted,
            "contam_planted": contam_planted, "eval_docs": len(eval_ids)}
