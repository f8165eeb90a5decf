"""Seeded input generators of the survey benchmark.

Every input is a function of (seed, workload) alone: the same seed gives
byte-identical parquet files, which `digest` proves on every run (the
three set-up repetitions must agree) and `selfcheck.py` proves in
isolation. The JVM under test only reads what is written here.
"""
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- survey: a clumpy sky --------------------------------------------------
# A uniform all-sky population, a dense Galactic-plane band and three
# compact clusters (at the Magellanic Clouds and M31, the real sky's
# famous over-densities). The densities differ by orders of magnitude,
# so the density-adaptive partition map tiles the sky at several HEALPix
# orders. The structure is fixed, as a real sky's is; the seed draws the
# sources.
SKY = {"master_rows": 40000, "master_shards": 4, "uniform_frac": 0.3, "band_frac": 0.3,
       "band_sigma_deg": 2.0,
       "clusters_ra_dec_sigma_deg": [[80.9, -69.8, 0.6], [13.2, -72.8, 0.4], [10.7, 41.3, 0.25]]}
# A new epoch re-detects a subset of the master sources, each displaced by
# 0.1 arcsec (70x below the 0.002 deg match radius), plus never-seen
# sources; a late batch of the same kind is appended afterwards.
EPOCH = {"rows": 20000, "late_rows": 2000, "shards": 8, "new_frac": 0.1,
         "jitter_deg": 0.1 / 3600, "epoch_id_base": 1000000000, "late_id_base": 2000000000}
# Closed-loop client requests: centres at catalogue positions; four in
# five small (0.05-0.5 deg), one in five wide (2-10 deg); cone, box and
# convex polygon in equal shares. Every fifth request is wide and the
# kinds take turns, so any run of 15 requests has the same mix whatever
# the seed; centres, radii and shapes are seeded.
SEARCH = {"count": 400, "warmup": 5, "small_deg": [0.05, 0.5], "wide_deg": [2.0, 10.0],
          "wide_every": 5}
XMATCH_SAMPLE = {"iterations": 8, "size": 200}
# --- pipeline_ops: star schema + events + documents + embeddings ----------
# Column names, types and value domains of the repository's sf test
# tables; row counts scale linearly with sf (lineitem = 6M x sf).
PIPELINE_SF = 0.005

SKY_SCHEMA = pa.schema([("source_id", pa.int64()), ("ra", pa.float64()), ("dec", pa.float64()),
                        ("mag_g", pa.float64()), ("mag_r", pa.float64()),
                        ("mag_err", pa.float64()), ("mjd", pa.float64()), ("flags", pa.int32())])

# J2000 Galactic -> equatorial rotation
_GAL = ((-0.0548755604, 0.4941094279, -0.8676661490),
        (-0.8734370902, -0.4448296300, -0.1980763734),
        (-0.4838350155, 0.7469822445, 0.4559837762))

# numpy draws the random numbers (bit-exact for a seed); the geometry is
# scalar `math`, because numpy's vectorised transcendental functions may
# round the last bit differently with the alignment of their arrays.


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _vec(ra, dec):
    a, d = math.radians(ra), math.radians(dec)
    return (math.cos(d) * math.cos(a), math.cos(d) * math.sin(a), math.sin(d))


def _radec(x, y, z):
    n = math.sqrt(x * x + y * y + z * z)
    return math.degrees(math.atan2(y, x)) % 360.0, math.degrees(math.asin(max(-1.0, min(1.0, z / n))))


def offset(ra, dec, dist_deg, pa_deg):
    """The point `dist_deg` from (ra, dec) along position angle `pa_deg`."""
    a, d = math.radians(ra), math.radians(dec)
    east = (-math.sin(a), math.cos(a), 0.0)
    north = (-math.sin(d) * math.cos(a), -math.sin(d) * math.sin(a), math.cos(d))
    c = _vec(ra, dec)
    r, p = math.radians(dist_deg), math.radians(pa_deg)
    return _radec(*(math.cos(r) * c[i] + math.sin(r) * (math.sin(p) * east[i] + math.cos(p) * north[i])
                    for i in range(3)))


def _jitter(ra, dec, dx, dy):
    """Tangent-plane displacement by (dx east, dy north) degrees."""
    return offset(ra, dec, math.hypot(dx, dy), math.degrees(math.atan2(dx, dy)))


def _galactic(l, b):
    g = _vec(l, b)
    return _radec(*(sum(_GAL[j][i] * g[j] for j in range(3)) for i in range(3)))


def sky_positions(r, n, with_clusters=True):
    """n positions from the clumpy density; without clusters, their share
    goes to the uniform population."""
    u = r.random(n).tolist()
    ura, uz = (r.random(n) * 360.0).tolist(), (2 * r.random(n) - 1).tolist()
    bl, bb = (r.random(n) * 360.0).tolist(), r.normal(0, SKY["band_sigma_deg"], n).tolist()
    cl = SKY["clusters_ra_dec_sigma_deg"]
    k, dx, dy = r.integers(0, len(cl), n).tolist(), r.normal(0, 1, n).tolist(), r.normal(0, 1, n).tolist()
    uni, band = SKY["uniform_frac"], SKY["uniform_frac"] + SKY["band_frac"]
    ra, dec = [], []
    for i in range(n):
        if u[i] < uni or (not with_clusters and u[i] >= band):
            p = (ura[i], math.degrees(math.asin(uz[i])))
        elif u[i] < band:
            p = _galactic(bl[i], bb[i])
        else:
            c = cl[k[i]]
            p = _jitter(c[0], c[1], dx[i] * c[2], dy[i] * c[2])
        ra.append(p[0])
        dec.append(p[1])
    return ra, dec


def _sky_table(r, ids, ra, dec, mjd):
    n = len(ids)
    g = 14.0 + 8.0 * np.sqrt(r.random(n))
    return pa.table([pa.array(ids, pa.int64()), ra, dec, g, g - 0.3 + 0.9 * r.random(n),
                     0.005 + 0.05 * r.random(n), mjd + r.random(n),
                     pa.array(r.integers(0, 16, n), pa.int32())], schema=SKY_SCHEMA)


def _write_shards(table, path, shards):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(shards):
        lo, hi = n * i // shards, n * (i + 1) // shards
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def _searches(r, mra, mdec, n, first_idx=0):
    out = []
    for i in range(n):
        j = int(r.integers(0, len(mra)))
        ra, dec = mra[j], mdec[j]
        wide = i % SEARCH["wide_every"] == SEARCH["wide_every"] - 1
        lo, hi = SEARCH["wide_deg"] if wide else SEARCH["small_deg"]
        radius = float(lo + (hi - lo) * r.random())
        kind = ("cone", "box", "polygon")[i % 3]
        s = {"idx": first_idx + i, "kind": kind, "ra": ra, "dec": dec, "radius": radius}
        if kind == "box":
            dlo, dhi = max(-90.0, dec - radius), min(90.0, dec + radius)
            half = radius / max(math.cos(math.radians(max(abs(dlo), abs(dhi)))), 1e-3)
            rlo, rhi = ((0.0, 360.0) if half >= 180.0
                        else ((ra - half + 360.0) % 360.0, (ra + half) % 360.0))
            s.update(ra_lo=float(rlo), ra_hi=float(rhi), dec_lo=dlo, dec_hi=dhi)
        elif kind == "polygon":
            m = 4 + int(r.integers(0, 3))
            rot = 360.0 * r.random()
            s["vertices"] = [list(offset(ra, dec, radius, rot + v * 360.0 / m)) for v in range(m)]
        out.append(s)
    return out


def search_line(s):
    """The space-separated form the JVM reads."""
    if s["kind"] == "cone":
        xs = [s["ra"], s["dec"], s["radius"]]
    elif s["kind"] == "box":
        xs = [s["ra_lo"], s["ra_hi"], s["dec_lo"], s["dec_hi"]]
    else:
        xs = [x for v in s["vertices"] for x in v]
    return " ".join([str(s["idx"]), s["kind"]] + [repr(float(x)) for x in xs])


def survey(seed, out):
    """Master source table, epoch shards, late batch, the search list and
    the cross-match check samples (left rows: the epoch plus the late
    batch)."""
    r = _rng(seed, 1)
    n = SKY["master_rows"]
    mra, mdec = sky_positions(r, n)
    _write_shards(_sky_table(r, np.arange(n), mra, mdec, 57000.0), os.path.join(out, "master"),
                  SKY["master_shards"])
    for name, stream, rows, base, mjd, shards in (
            ("epoch", 2, EPOCH["rows"], EPOCH["epoch_id_base"], 58000.0, EPOCH["shards"]),
            ("late", 3, EPOCH["late_rows"], EPOCH["late_id_base"], 58001.0, 1)):
        e = _rng(seed, stream)
        new = (e.random(rows) < EPOCH["new_frac"]).tolist()
        src = e.integers(0, n, rows).tolist()
        dx, dy = (e.normal(0, EPOCH["jitter_deg"], (2, rows))).tolist()
        nra, ndec = sky_positions(e, rows, with_clusters=False)
        pos = [(nra[i], ndec[i]) if new[i] else _jitter(mra[src[i]], mdec[src[i]], dx[i], dy[i])
               for i in range(rows)]
        _write_shards(_sky_table(e, base + np.arange(rows), [p[0] for p in pos], [p[1] for p in pos], mjd),
                      os.path.join(out, name), shards)
    s = _rng(seed, 4)
    searches = _searches(s, mra, mdec, SEARCH["count"])
    warm = _searches(_rng(seed, 5), mra, mdec, SEARCH["warmup"], first_idx=-SEARCH["warmup"])
    with open(os.path.join(out, "searches.txt"), "w") as f:
        f.writelines(search_line(x) + "\n" for x in searches)
    with open(os.path.join(out, "warmup_searches.txt"), "w") as f:
        f.writelines(search_line(x) + "\n" for x in warm)
    with open(os.path.join(out, "searches.json"), "w") as f:
        json.dump(searches, f)
    x = _rng(seed, 6)
    with open(os.path.join(out, "xmatch_samples.txt"), "w") as f:
        for _ in range(XMATCH_SAMPLE["iterations"]):
            late = x.random(XMATCH_SAMPLE["size"]) < EPOCH["late_rows"] / (EPOCH["rows"] + EPOCH["late_rows"])
            ids = np.where(late, EPOCH["late_id_base"] + x.integers(0, EPOCH["late_rows"], XMATCH_SAMPLE["size"]),
                           EPOCH["epoch_id_base"] + x.integers(0, EPOCH["rows"], XMATCH_SAMPLE["size"]))
            f.write(" ".join(str(int(i)) for i in sorted(set(ids.tolist()))) + "\n")
    return {"sky": SKY, "epoch": EPOCH, "search": SEARCH, "xmatch_sample": XMATCH_SAMPLE}


_WORDS = ("a agg batch big column customer data fast filter group hash join key line merge order "
          "part query row scan slow small sort spark stream table the value vector window").split()


def pipeline(seed, out, sf=PIPELINE_SF):
    """The ten tables the registry queries read, one parquet file each."""
    os.makedirs(out, exist_ok=True)
    z = {"customer": int(150000 * sf), "supplier": int(10000 * sf), "part": int(200000 * sf),
         "orders": int(1500000 * sf), "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
         "documents": int(50000 * sf), "embeddings": int(20000 * sf)}
    r = _rng(seed, 10)
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    us_per_day = 86400 * 1000000

    def money(lo, hi, n):
        return np.round((lo + r.random(n) * (hi - lo)) * 100) / 100.0

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def i32(x):
        return pa.array(x, pa.int32())

    def i64(x):
        return pa.array(x, pa.int64())

    def ts(x):
        return pa.array(x, pa.timestamp("us"))

    write("region", {"r_regionkey": i32(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])})
    n = z["customer"]
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": i64(range(n)), "c_name": [f"Customer#{i:09d}" for i in range(n)],
                       "c_nationkey": i32(r.integers(0, 25, n)), "c_acctbal": money(-999.99, 9999.99, n),
                       "c_mktsegment": seg[r.integers(0, 5, n)]})
    n = z["supplier"]
    write("supplier", {"s_suppkey": i64(range(n)), "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                       "s_nationkey": i32(r.integers(0, 25, n)), "s_acctbal": money(-999.99, 9999.99, n)})
    n = z["part"]
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    write("part", {"p_partkey": i64(range(n)),
                   "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n)], " "), noun[r.integers(0, 8, n)]),
                   "p_brand": np.char.add("Brand#", (1 + r.integers(0, 25, n)).astype(str)),
                   "p_type": np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())[r.integers(0, 6, n)],
                   "p_size": i32(1 + r.integers(0, 50, n)),
                   "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    n = z["orders"]
    write("orders", {"o_orderkey": i64(range(n)), "o_custkey": i64(r.integers(0, z["customer"], n)),
                     "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
                     "o_totalprice": money(1000.0, 500000.0, n),
                     "o_orderdate": ts(day0 + r.integers(0, 2404, n) * us_per_day),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"])[r.integers(0, 5, n)]})
    n = z["lineitem"]
    write("lineitem", {"l_orderkey": i64(r.integers(0, z["orders"], n)),
                       "l_partkey": i64(r.integers(0, z["part"], n)),
                       "l_suppkey": i64(r.integers(0, z["supplier"], n)),
                       "l_linenumber": i32(1 + r.integers(0, 7, n)),
                       "l_quantity": (1 + r.integers(0, 50, n)).astype(np.float64),
                       "l_extendedprice": money(900.0, 105000.0, n),
                       "l_discount": r.integers(0, 11, n) / 100.0, "l_tax": r.integers(0, 9, n) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
                       "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
                       "l_shipdate": ts(day0 + (1 + r.integers(0, 2498, n)) * us_per_day)})
    n = z["events"]
    # ids are time-ordered, as in an append-only event log
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    write("events", {"event_id": i64(range(n)),
                     "ts": ts(t0 + np.arange(n) * (30 * us_per_day // max(1, n)) + r.integers(0, 1000000, n)),
                     "user_id": i64(r.integers(0, max(1, z["customer"] // 10), n)),
                     "event_type": np.array("click error purchase signup view".split())[r.integers(0, 5, n)],
                     "value": [round(-50.0 * math.log(1.0 - u) * 100) / 100.0 for u in r.random(n).tolist()],
                     "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    n = z["documents"]
    docs = [" ".join(_WORDS[w] for w in r.integers(0, len(_WORDS), 10 + int(r.integers(0, 91))))
            for _ in range(n)]
    # one document in twenty re-publishes an earlier one with a marker word
    # appended: the near-duplicates the dedup operators look for
    for i in range(1, n):
        if r.random() < 0.05:
            docs[i] = docs[int(r.integers(0, i))] + " dup"
    write("documents", {"doc_id": i64(range(n)), "text": docs,
                        "lang": np.array("en en en de es fr zh".split())[r.integers(0, 7, n)],
                        "source": np.char.add("src", r.integers(0, 20, n).astype(str)),
                        "n_chars": i64([len(d) for d in docs])})
    n = z["embeddings"]
    write("embeddings", {"vec_id": i64(range(n)),
                         "embedding": pa.array(list((r.normal(0, 0.12, (n, 64))).astype(np.float32)),
                                               pa.list_(pa.float32())),
                         "label": i32(r.integers(0, 10, n))})
    return {"sf": sf, "table_rows": dict(z, region=5, nation=25)}


GENERATORS = {"survey": survey, "pipeline_ops": pipeline}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out`; returns its parameters."""
    return GENERATORS[workload](seed, out)


def digest(out):
    """Digest of every generated file (names and bytes)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(out)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
