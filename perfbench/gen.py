"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of (workload, seed): the same seed
gives byte-identical inputs. The program only ever sees the files this
module writes; the plan (`plan.json`) stays with the benchmark and feeds
the oracle and the output checker.

Inputs per workload family:
  tsa_workbook  LOTJU pipe-CSV dumps + station/sensor metadata (the
                store is built from them with LotjuIngest.ingest) and
                one directory of sheet CSVs (the workbook)
  doc_curation  a base corpus and B incremental document batches
                (parquet, the `documents` schema)
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RES = os.path.join("src", "main", "resources", "graft")

# Sensor name -> (kind, lo, hi, step). Every name is one of the program's
# own sensors.csv entries, so Validation.localSensorIds resolves each
# block. Values sit on a grid that floats represent exactly, and
# thresholds sit between grid points, so no comparison is a knife edge.
SENSORS = {
    "ilma": ("walk", -15.0, 5.0, 0.5),
    "tie_1": ("walk", -15.0, 5.0, 0.5),
    "maa_1": ("walk", -5.0, 5.0, 0.5),
    "kastepiste": ("walk", -20.0, 0.0, 0.5),
    "keskituuli": ("walk", 0.0, 20.0, 1.0),
    "ilman_kosteus": ("walk", 40.0, 100.0, 1.0),
    "nakyvyys": ("walk", 0.0, 20.0, 1.0),
    "kitka3_luku": ("walk", 0.0, 1.0, 0.25),
    "sade": ("cat", 0, 1, 1),
    "keli_1": ("cat", 1, 8, 1),
    "varoitus_1": ("cat", 0, 3, 1),
    "sateen_olomuoto_pwdxx": ("cat", 0, 7, 1),
}

WORKLOADS = {
    # condition-heavy report runs: two sheets with 7-day windows, every
    # report sink, and secondary references (one across sheets). The
    # shape is fixed; the seed draws stations, sensors, operators,
    # thresholds, the and/or/not tree and the readings.
    "tsa_workbook": dict(stations=8, days=10, start=(2018, 2, 1), dump_days=5,
                         sheets=[dict(offset=0, span=7, conds=[dict(pri=1)]),
                                 dict(offset=3, span=7, conds=[dict(pri=1, sec=True)])]),
    "doc_curation": dict(base=800, batches=2, batch_docs=300),
}


def _resource_lines(name):
    with open(os.path.join(RES, name), encoding="utf-8") as f:
        return [l.strip() for l in f if l.strip()]


def sensor_ids():
    return {n: int(i) for n, i in (l.split(",", 1) for l in _resource_lines("sensors.csv"))}


def station_ids():
    return [int(l) for l in _resource_lines("statids.csv")]


# ---------------------------------------------------------------- time

def _last_sunday(year, month):
    d = dt.date(year, month + 1, 1) - dt.timedelta(days=1) if month < 12 else dt.date(year, 12, 31)
    return d - dt.timedelta(days=(d.weekday() + 1) % 7)


def helsinki_offset_hours(utc):
    """EET/EEST: UTC+3 from the last Sunday of March 01:00 UTC to the
    last Sunday of October 01:00 UTC, else UTC+2."""
    y = utc.year
    start = dt.datetime.combine(_last_sunday(y, 3), dt.time(1))
    end = dt.datetime.combine(_last_sunday(y, 10), dt.time(1))
    return 3 if start <= utc < end else 2


def lotju_aika(utc):
    local = utc + dt.timedelta(hours=helsinki_offset_hours(utc))
    return local.strftime("%d.%m.%Y %H:%M:%S") + ",000000000"


# ---------------------------------------------------------------- LOTJU

def _series(rng, kind, lo, hi, step, n):
    """A value series with runs: the value changes at ~8% of readings."""
    levels = int(round((hi - lo) / step)) + 1
    change = rng.random(n) < 0.08
    if kind == "cat":
        jumps = rng.integers(0, levels, n)
        idx = np.empty(n, dtype=np.int64)
        cur = int(rng.integers(0, levels))
        for i in range(n):
            if change[i]:
                cur = int(jumps[i])
            idx[i] = cur
    else:
        moves = rng.choice(np.array([-2, -1, 1, 2]), n)
        idx = np.empty(n, dtype=np.int64)
        cur = int(rng.integers(0, levels))
        for i in range(n):
            if change[i]:
                cur = min(max(cur + int(moves[i]), 0), levels - 1)
            idx[i] = cur
    return lo + idx * step


def _fmt_val(v):
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def write_lotju(rng, out, stations, sensors, start, days, dump_days):
    """LOTJU dumps for `stations` (station ids) x `sensors` (names).

    Readings per station at irregular 1-60 minute spacing; per
    (station, sensor) a few missing stretches of 1-12 h. Noise: ~1%
    re-sent duplicate lines (exact copies, in the next dump), rows with
    unknown LOTJU ids, and rows with NULL fields. Returns plan facts.
    """
    sids = sensor_ids()
    meta = os.path.join(out, "meta")
    os.makedirs(meta, exist_ok=True)
    # LOTJU ids differ from the program ids, as in the real dumps
    st_lotju = {s: 10 + i * 3 for i, s in enumerate(stations)}
    se_lotju = {n: 500 + i * 7 for i, n in enumerate(sorted(sids))}
    with open(os.path.join(meta, "stations.csv"), "w") as f:
        for s in stations:
            f.write(f'{s}|{st_lotju[s]}|"st_{s}"\n')
    with open(os.path.join(meta, "sensors.csv"), "w") as f:
        for n in sorted(sids):
            f.write(f'{sids[n]}|{se_lotju[n]}|"{n.upper()}"\n')

    t0 = dt.datetime(*start)
    total_min = days * 24 * 60
    mitta = {}   # dump index -> lines
    anturi = {}
    obs_id = 100_000_000 + int(rng.integers(0, 1000)) * 100_000
    val_id = 20_000_000_000 + int(rng.integers(0, 1000)) * 1_000_000
    rows_raw = 0
    for s in stations:
        gaps = np.where(rng.random(total_min) < 0.88,
                        rng.integers(1, 11, total_min), rng.integers(11, 61, total_min))
        mins = np.cumsum(gaps)
        mins = mins[mins < total_min]
        n = len(mins)
        vals = {}
        for name in sensors:
            kind, lo, hi, step = SENSORS[name]
            v = _series(rng, kind, lo, hi, step, n)
            present = np.ones(n, dtype=bool)
            for _ in range(max(1, days // 5)):
                a = int(rng.integers(0, total_min))
                b = a + int(rng.integers(60, 12 * 60))
                present &= ~((mins >= a) & (mins < b))
            vals[name] = (v, present)
        for i in range(n):
            utc = t0 + dt.timedelta(minutes=int(mins[i]))
            d = int(mins[i]) // (dump_days * 24 * 60)
            obs_id += 1
            noise = rng.random()
            aika = lotju_aika(utc)
            asema = st_lotju[s]
            if noise < 0.003:
                aika = ""                     # NULL time: row dropped
            elif noise < 0.006:
                asema = 9_000 + int(rng.integers(0, 100))  # unknown station
            line = f"{obs_id}|{aika}|{asema}"
            mitta.setdefault(d, []).append(line)
            if noise > 0.99:                  # re-sent in the next dump
                mitta.setdefault(d + 1, []).append(line)
            for name in sensors:
                v, present = vals[name]
                if not present[i]:
                    continue
                val_id += 1
                r = rng.random()
                arvo = _fmt_val(v[i])
                anturi_id = se_lotju[name]
                if r < 0.003:
                    arvo = ""                 # NULL value: row dropped
                elif r < 0.006:
                    anturi_id = 90_000 + int(rng.integers(0, 100))  # unknown sensor
                vline = f"{val_id}|{anturi_id}|{arvo}|{obs_id}|"
                anturi.setdefault(d, []).append(vline)
                rows_raw += 1
                if r > 0.99:
                    anturi.setdefault(d + 1, []).append(vline)
                    rows_raw += 1
    in_bytes = 0
    for sub, hdr, dumps in (("mitta", '"ID"|"AIKA"|"ASEMA_ID"', mitta),
                            ("anturi", '"ID"|"ANTURI_ID"|"ARVO"|"MITTATIETO_ID"|"TIEDOSTO_ID"',
                             anturi)):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        for d in sorted(dumps):
            day = (t0 + dt.timedelta(days=d * dump_days)).strftime("%Y%m%d")
            p = os.path.join(out, sub, f"{sub}_{day}.csv")
            body = hdr + "\n" + "\n".join(dumps[d]) + "\n"
            with open(p, "w") as f:
                f.write(body)
            in_bytes += len(body)
    return dict(rows_in=rows_raw, input_bytes=in_bytes)


# ---------------------------------------------------------------- sheets

def _threshold(rng, kind, lo, hi, step):
    levels = int(round((hi - lo) / step)) + 1
    if kind == "cat":
        op = rng.choice(["=", "<>", "in", "in"])
        if op == "in":
            k = int(rng.integers(1, min(4, levels - 1) + 1))
            vs = sorted(rng.choice(levels, k, replace=False).tolist())
            return "in", [lo + v * step for v in vs]
        return op, [lo + int(rng.integers(0, levels)) * step]
    op = rng.choice(["<", ">", "<=", ">="])
    # between grid points, away from the ends so both outcomes occur
    i = int(rng.integers(levels // 4, max(levels // 4 + 1, 3 * levels // 4)))
    return op, [lo + i * step + step / 2]


def _block_text(statid, sensor, op, vals):
    if op == "in":
        return f"s{statid}#{sensor} in ({','.join(_fmt_val(v) for v in vals)})"
    return f"s{statid}#{sensor} {op} {_fmt_val(vals[0])}"


def _expr(rng, leaves):
    """Random fully parenthesized and/or/not tree over leaf tokens.
    Returns (condition text tokens, AST) with AST nodes
    ("ref", i) | ("and", l, r) | ("or", l, r) | ("not", x)."""
    nodes = [([t], ("ref", i)) for i, t in enumerate(leaves)]
    while len(nodes) > 1:
        i = int(rng.integers(0, len(nodes) - 1))
        (lt, la), (rt, ra) = nodes[i], nodes[i + 1]
        op = "and" if rng.random() < 0.55 else "or"
        toks, ast = ["("] + lt + [op] + rt + [")"], (op, la, ra)
        if rng.random() < 0.2:
            toks, ast = ["not"] + toks, ("not", ast)
        nodes[i:i + 2] = [(toks, ast)]
    toks, ast = nodes[0]
    if len(leaves) == 1 and rng.random() < 0.3:
        toks, ast = ["not"] + toks, ("not", ast)
    return " ".join(toks), ast


def write_sheets(rng, out, cfg, stations, sensors, start):
    """Sheet CSVs (FIXTURES.md section 1) plus the condition plan."""
    sdir = os.path.join(out, "sheets")
    os.makedirs(sdir, exist_ok=True)
    sheets = []
    prev_sheet_conds = []
    for si, sh in enumerate(cfg["sheets"]):
        title = f"sheet{si + 1}"
        site = f"site_{chr(ord('a') + si)}"
        d_from = dt.date(*start) + dt.timedelta(days=sh["offset"])
        d_until = d_from + dt.timedelta(days=sh["span"] - 1)
        conds = []
        for ci, spec in enumerate(sh["conds"]):
            alias = f"c{ci + 1}"
            leaves, blocks = [], []
            if spec.get("sec"):
                # a same-site ref to an earlier condition, if any, and on
                # a later sheet one reaching back across sheets
                if conds:
                    tgt = conds[int(rng.integers(0, len(conds)))]
                    leaves.append(tgt["alias"])
                    blocks.append(dict(kind="sec", ref=tgt["id"]))
                if prev_sheet_conds:
                    x = prev_sheet_conds[int(rng.integers(0, len(prev_sheet_conds)))]
                    leaves.append(f"{x['site']}#{x['alias']}")
                    blocks.append(dict(kind="sec", ref=x["id"]))
            target = len(leaves) + spec["pri"]
            while len(leaves) < target:
                st = stations[int(rng.integers(0, len(stations)))]
                sn = sensors[int(rng.integers(0, len(sensors)))]
                kind, lo, hi, step = SENSORS[sn]
                op, vals = _threshold(rng, kind, lo, hi, step)
                text = _block_text(st, sn, op, vals)
                if text in leaves:
                    continue
                leaves.append(text)
                blocks.append(dict(kind="pri", statid=st, seid=sensor_ids()[sn],
                                   op=op, values=vals))
            order = rng.permutation(len(leaves)).tolist()
            leaves = [leaves[i] for i in order]
            blocks = [blocks[i] for i in order]
            text, ast = _expr(rng, leaves)
            conds.append(dict(site=site, alias=alias, id=f"{site}_{alias}",
                              condition=text, blocks=blocks, ast=ast))
        lines = ['"start","end"',
                 f'"{d_from.day}.{d_from.month}.{d_from.year}","{d_until.day}.{d_until.month}.{d_until.year}"',
                 '"site","master_alias","condition"']
        lines += [f'"{c["site"]}","{c["alias"]}","{c["condition"]}"' for c in conds]
        with open(os.path.join(sdir, f"{title}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        sheets.append(dict(title=title, time_from=f"{d_from} 00:00:00",
                           time_until=f"{d_until} 23:59:59", conditions=conds))
        prev_sheet_conds = conds
    return sheets


def gen_tsa(seed, out):
    cfg = WORKLOADS["tsa_workbook"]
    rng = np.random.default_rng([seed, 2])
    stations = sorted(rng.choice(station_ids(), cfg["stations"], replace=False).tolist())
    sensors = sorted(SENSORS)
    facts = write_lotju(rng, out, stations, sensors, cfg["start"], cfg["days"],
                        cfg["dump_days"])
    sheets = write_sheets(rng, out, cfg, stations, sensors, cfg["start"])
    return dict(workload="tsa_workbook", seed=seed, sheets=sheets, **facts)


# ---------------------------------------------------------------- documents

STOP = ["the", "a", "an", "of", "and", "or", "in", "to", "is", "it"]


def gen_docs(seed, out):
    """Base corpus + B batches. Planted per batch: exact copies of a
    corpus doc, exact copies within the batch, near-duplicates (two
    token substitutions) of corpus docs, and low-quality docs."""
    cfg = WORKLOADS["doc_curation"]
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = list(STOP)
    seen = set(vocab)
    while len(vocab) < 3000:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks ** 1.05
    p /= p.sum()

    def doc():
        n = int(rng.integers(60, 160))
        return " ".join(vocab[i] for i in rng.choice(len(vocab), n, p=p))

    def junk():
        n = int(rng.integers(3, 8))
        return " ".join("".join(rng.choice(list("!?#%&*;:"), int(rng.integers(3, 7))))
                        for _ in range(n))

    next_id = 0
    texts = {}
    uniques, exact, near, lowq = [], [], [], []

    def add(text, bucket):
        nonlocal next_id
        i = next_id
        next_id += 1
        texts[i] = text
        bucket.append(i)
        return i

    batches = []
    base = []
    for _ in range(cfg["base"]):
        base.append(add(doc(), uniques))
    for _ in range(cfg["base"] // 50):
        base.append(add(texts[base[int(rng.integers(0, len(base)))]], exact))
    for _ in range(cfg["base"] // 50):
        base.append(add(junk(), lowq))
    batches.append(base)
    corpus_uniques = list(uniques)
    for _ in range(cfg["batches"]):
        ids = []
        m = cfg["batch_docs"]
        for _ in range(int(m * 0.8)):
            ids.append(add(doc(), uniques))
        for _ in range(int(m * 0.05)):   # copy of a committed corpus doc
            ids.append(add(texts[corpus_uniques[int(rng.integers(0, len(corpus_uniques)))]], exact))
        own = [i for i in ids if i in set(uniques)]
        for _ in range(int(m * 0.05)):   # copy within the batch
            ids.append(add(texts[own[int(rng.integers(0, len(own)))]], exact))
        for _ in range(int(m * 0.05)):   # near-duplicate of a corpus doc
            toks = texts[corpus_uniques[int(rng.integers(0, len(corpus_uniques)))]].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(200, len(vocab)))]
            ids.append(add(" ".join(toks), near))
        for _ in range(int(m * 0.05)):
            ids.append(add(junk(), lowq))
        batches.append(ids)
        corpus_uniques += [i for i in ids if i in set(uniques)]

    os.makedirs(out, exist_ok=True)
    for b, ids in enumerate(batches):
        order = rng.permutation(len(ids))
        rows = [ids[k] for k in order]
        tbl = pa.table({
            "doc_id": pa.array(rows, pa.int64()),
            "text": pa.array([texts[i] for i in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([f"src{i % 7}" for i in rows], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in rows], pa.int64()),
        })
        pq.write_table(tbl, os.path.join(out, f"batch_{b}.parquet"))
    return dict(workload="doc_curation", seed=seed, batches=len(batches),
                docs=next_id, uniques=uniques, exact=exact, near=near, lowq=lowq)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "tsa_workbook":
        plan = gen_tsa(seed, out)
    else:
        plan = gen_docs(seed, out)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
