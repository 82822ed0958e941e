"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of their arguments:

* ``write_lake(out, sf, seed)`` writes the ten lake tables the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``), one single-row-group parquet file each,
  with the column names, types, key ranges and value domains of the
  TPC-H-ish star schema plus the LLM-pipeline tables.
* ``write_month(out, n_trips, seed)`` writes one Citi Bike staging month in
  the shape of ``tools/make_scale_inputs.py``: two gz trip CSVs (NYC ~87%,
  JC ~13%), hourly weather JSON at ``:51``, a station snapshot CSV with every
  10th station duplicated, and covid rows covering every day of the month.
  Unlike that tool, the seed and the trip count are arguments.

Run as a script to write both under a directory:
``python3 perfbench/inputs.py OUT --sf 0.01 --trips 100000 --seed 7``.
"""
import argparse
import csv
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window column vector stream data small big join "
         "filter group customer order query").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "gear", "rod", "plate", "bolt", "anvil", "pin"]
EVENT_HEADERS = ["tripduration", "starttime", "stoptime",
                 "start station id", "start station name",
                 "start station latitude", "start station longitude",
                 "end station id", "end station name",
                 "end station latitude", "end station longitude",
                 "bikeid", "usertype", "birth year", "gender"]
US_PER_DAY = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, span):
    """``n`` midnight timestamps ``start + [0, span)`` days, as datetime64[us]."""
    return np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")


def write_lake(out, sf, seed):
    """Write the ten lake tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64)})
    odate = _days(rng, n_ord, "1995-01-01", 2404)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2), f64),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lok = rng.integers(0, n_ord, n_li)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 96, n_li) * np.timedelta64(1, "D"))})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    lens = rng.integers(8, 100, n_doc)
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    # a few exact re-posts of earlier documents, as a crawled corpus has
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _gz_csv(path, headers, rows):
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(headers)
    w.writerows(rows)
    with gzip.open(path, "wt", compresslevel=1) as f:
        f.write(buf.getvalue())


def write_month(out, n_trips, seed):
    """Write one staging month (January 2020) of ``n_trips`` trips."""
    for d in ("events", "weathers", "stations", "covids"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2020-01-01T00:00:00", "ms")
    month_ms = 31 * 86_400_000
    # distinct start instants: the fact id is md5(starttime || bikeid), so
    # distinct starts keep one fact row per generated trip
    start = t0 + np.sort(rng.choice(month_ms, n_trips, replace=False)).astype("timedelta64[ms]")
    start_s = np.datetime_as_string(start, unit="ms")
    dur = rng.integers(61, 7200, n_trips)
    s_id = rng.integers(3000, 4000, n_trips)
    e_id = rng.integers(3000, 4000, n_trips)
    bike = rng.integers(30000, 45000, n_trips)
    user = np.where(rng.random(n_trips) < 0.8, "Subscriber", "Customer")
    birth = rng.integers(1940, 2004, n_trips).astype(str)
    birth[rng.random(n_trips) < 0.02] = ""
    gender = rng.integers(0, 3, n_trips)
    rows = [[int(dur[i]), start_s[i].replace("T", " ") + "0", "", int(s_id[i]),
             f"st {s_id[i]}", "40.7", "-74.0", int(e_id[i]), f"st {e_id[i]}",
             "40.8", "-73.9", int(bike[i]), user[i], birth[i], int(gender[i])]
            for i in rng.permutation(n_trips)]
    n_nyc = int(n_trips * 0.87)
    _gz_csv(os.path.join(out, "events", "202001-citibike-tripdata.csv.gz"),
            EVENT_HEADERS, rows[:n_nyc])
    _gz_csv(os.path.join(out, "events", "JC-202001-citibike-tripdata.csv.gz"),
            EVENT_HEADERS, rows[n_nyc:])

    epoch0 = 1577836800  # 2020-01-01T00:00:00Z
    phrases = ["Fair", "Cloudy", "Rain", "Snow"]
    for day in range(31):
        obs = []
        for hour in range(24):
            obs.append({
                "valid_time_gmt": epoch0 + day * 86400 + hour * 3600 + 51 * 60,
                "temp": int(rng.integers(20, 45)), "dewPt": int(rng.integers(10, 35)),
                "rh": int(rng.integers(30, 90)),
                "day_ind": "D" if 6 <= hour <= 18 else "N",
                "wspd": int(rng.integers(0, 25)),
                "gust": None if rng.random() < 0.5 else int(rng.integers(15, 40)),
                "pressure": round(29.0 + float(rng.random()) * 2, 2),
                "precip_hrly": round(float(rng.random()) * 0.3, 2) if rng.random() < 0.2 else 0.0,
                "wx_phrase": phrases[int(rng.integers(0, 4))]})
        with open(os.path.join(out, "weathers", f"202001{day + 1:02d}.json"), "w") as f:
            json.dump(obs, f)

    st_rows, i = [], 0
    for sid in range(3000, 4000):
        for _ in range(2 if sid % 10 == 0 else 1):
            st_rows.append([i, sid, f"uuid-{sid}", f"Station {sid}", f"{sid}.01", 71, sid,
                            "classic", 40.7 + sid / 1e5, -74.0 + sid / 1e5,
                            int(rng.integers(15, 60)), "True", "False", "False",
                            "['KEY', 'CREDITCARD']"])
            i += 1
    _gz_csv(os.path.join(out, "stations", "stations.csv.gz"),
            ["", "station_id", "external_id", "name", "short_name", "region_id",
             "legacy_id", "station_type", "lat", "lon", "capacity", "has_kiosk",
             "electric_bike_surcharge_waiver", "eightd_has_key_dispenser",
             "rental_methods"], st_rows)
    _gz_csv(os.path.join(out, "covids", "covid_cases.csv.gz"),
            ["", "DATE_OF_INTEREST", "BX_CASE_COUNT", "BX_PROBABLE_CASE_COUNT",
             "BK_CASE_COUNT", "BK_PROBABLE_CASE_COUNT", "MN_CASE_COUNT",
             "MN_PROBABLE_CASE_COUNT", "QN_CASE_COUNT", "QN_PROBABLE_CASE_COUNT",
             "SI_CASE_COUNT", "SI_PROBABLE_CASE_COUNT", "INCOMPLETE"],
            [[d, f"01/{d + 1:02d}/2020"] + [int(x) for x in rng.integers(0, 50, 10)] + [0]
             for d in range(31)])


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--trips", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    write_lake(os.path.join(a.out, "lake"), a.sf, a.seed)
    write_month(os.path.join(a.out, "month"), a.trips, a.seed)
