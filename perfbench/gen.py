"""Seeded EDW-shaped input generator for the pipeline benchmark.

Writes asset / bond_info CSV tapes and deal-details XML that follow the
fixture contract (FIXTURES.md section A): a UTF-8 BOM, NUL bytes, ND
no-data codes, a units row, accented text, mixed case and the
`{ed_code}_{yyyy}_{MM}_{dd}_{file_key}.csv` name contract. Every tape
carries an exact, known number of invalid cells, bad rows, duplicate
rows and all-null topic groups, and `truth.json` records what the
pipeline must produce from them. The vector workload gets a clustered
64-d corpus with its exact cosine top-10 computed here.

Everything is a pure function of (workload, seed, sizes), so the same
seed always gives byte-identical inputs.
"""
import datetime
import json
import os
import random
import unicodedata
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Column rules, transcribed from the reference's asset and bond_info
# validation schemas. Kind: s string, n number, d date, yn y/n flag,
# eN enum "0".."N-1". "!" marks a required (non-nullable) column,
# ">date" a lower date bound. Columns absent here are unvalidated.
ASSET_RULES = (
    "AL1:d!>2012-01-01 AL2:s! AL3:s! AL4:s AL5:s! AL6:s AL7:yn AL8:s! AL9:s "
    "AL10:s! AL15:s AL16:s AL17:s AL18:e7 AL19:d AL20:d AL21:e6 AL22:e5 "
    "AL23:yn AL29:yn AL30:n AL31:s AL32:s AL33:s AL34:s AL35:s AL36:s AL37:n "
    "AL38:n AL39:n AL40:n AL41:n AL42:s AL43:s AL44:n AL45:s AL46:s AL47:yn "
    "AL48:d AL50:d AL51:d>2012-01-01 AL52:d AL53:n AL54:n AL55:n AL56:n! "
    "AL57:n AL58:e5 AL59:e9 AL60:e9 AL61:n AL62:n AL63:n AL64:e7 AL66:e7 "
    "AL67:e8 AL68:n AL69:d AL70:e5 AL74:n AL75:n AL76:e14 AL77:n AL78:n "
    "AL79:n AL80:n AL83:n AL84:n AL85:n AL86:n AL87:n AL88:n AL89:n AL90:n "
    "AL91:n AL92:n AL93:n AL94:s AL95:d AL98:n AL99:n AL100:d AL101:d "
    "AL102:n AL103:n AL104:yn AL105:yn AL106:e5 AL107:d AL108:n AL109:n "
    "AL110:d AL111:n AL112:e7 AL113:d AL114:yn AL115:n AL116:d AL117:d "
    "AL118:n AL119:n AL120:d AL121:n AL122:e11 AL123:yn AL124:n AL125:n "
    "AL126:yn AL127:n AL128:n AL129:n AL133:s AL134:s AL135:s AL136:s "
    "AL137:e5 AL138:n AL139:e22 AL140:yn AL141:s AL142:n AL143:n AL144:e10 "
    "AL145:d AL146:n AL147:e10 AL148:d")
BOND_RULES = (
    "BL1:d! BL2:s! BL4:yn BL5:yn BL11:n BL12:yn BL13:n BL14:n BL15:n BL16:n "
    "BL17:n BL18:d BL19:s! BL20:s! BL25:s BL26:s BL27:d BL28:d BL29:s! "
    "BL30:n BL31:n BL32:e19 BL33:n BL34:n BL35:n BL36:n BL37:n "
    "BL38:d!>2012-01-01 BL39:d! BL40:d BL41:e6 BL42:d BL43:n BL44:n BL45:n "
    "BL46:n")
BOND_COLS = 50
# The asset tape's columns: every topic of the split is present, with
# the columns the validation rules, the injected defects and the gold
# metrics use (64 of the reference's 153).
ASSET_COLS = ([1, 2, 3, 4, 5, 6, 7, 8, 9, 10] + list(range(15, 24))
              + [29, 30, 31] + list(range(50, 61)) + list(range(74, 81))
              + list(range(83, 91)) + list(range(98, 106))
              + list(range(133, 141)))

# Silver topic split (column index ranges, end exclusive) and the flag
# columns silver casts to boolean: a null flag becomes false, so a
# topic holding one can never be all-null.
ASSET_TOPICS = {"lease_info": (6, 50), "lease_features": (50, 74),
                "interest_rate": (74, 83), "financial_info": (83, 98),
                "performance_info": (98, 133), "collateral_info": (133, 154)}
BOND_TOPICS = {"bond_info": (3, 19), "transaction_info": (19, 25),
               "tranche_info": (25, 51)}
# topics whose columns are all nullable and hold no flag: the only
# ones an all-null group can be injected into without making a bad row
ASSET_NULLABLE_TOPICS = ("interest_rate", "financial_info")

COUNTRIES = ["es", "it", "fr", "de", "nl", "be", "pt", "ie", "España",
             "Österreich", "gr", "fi"]
SERVICERS = ["Crédit Agricole Leasing", "Banco Santander", "BNP Paribas",
             "Société Générale", "UniCredit Leasing", "ÇA Leasing"]
NO_DATA = ["ND1", "ND2", "ND3", "ND4", "ND5", "", "   ", "No Collateral"]


def parse_rules(spec):
    out = {}
    for tok in spec.split():
        name, rule = tok.split(":")
        lo = None
        if ">" in rule:
            rule, lo = rule.split(">")
        req = rule.endswith("!")
        out[name] = (rule.rstrip("!"), req, lo)
    return out


ASSET = parse_rules(ASSET_RULES)
BOND = parse_rules(BOND_RULES)


def clean(cell):
    """The bronze cell rule: strip BOM/NUL, transliterate, null the
    no-data spellings, lower + trim everything else."""
    c = cell.replace("﻿", "").replace("\x00", "")
    c = "".join(ch for ch in unicodedata.normalize("NFD", c)
                if not unicodedata.combining(ch))
    if c.strip() == "" or c.startswith("ND") or c == "No Collateral":
        return None
    return c.strip().lower()


def pcd_parts(pcd):
    return pcd.replace("-", "_"), pcd.replace("-", "")


class Tape:
    """One generated tape: its raw rows plus the exact expectations."""

    def __init__(self, rows, bad_rows, bad_cells, all_null, good_distinct):
        self.rows = rows
        self.bad_rows = bad_rows
        self.bad_cells = bad_cells
        self.all_null = all_null            # topic -> distinct good rows all-null
        self.good_distinct = good_distinct  # list of distinct good rows


def valid_value(rng, kind, lo, col, i, ed):
    if kind == "d":
        base = datetime.date(2013, 1, 1) if lo else datetime.date(2005, 1, 1)
        return (base + datetime.timedelta(days=rng.randrange(5000))).isoformat()
    if kind == "n":
        return "%d.%02d" % (rng.randrange(100000), rng.randrange(100))
    if kind == "yn":
        return rng.choice(["y", "n", "Y", "N"])
    if kind.startswith("e"):
        return str(rng.randrange(int(kind[1:])))
    if kind == "s":
        if col in ("AL3", "AL6", "AL141"):
            return rng.choice(SERVICERS)
        return rng.choice(["Alpha", "beta ", "Gamma Ltd", "délta", "x\x00y",
                           "OMEGA"]) + str(rng.randrange(50))
    raise ValueError(kind)


def asset_tape(rng, ed, pcd, n_rows, n_bad, n_dup, n_null_topic):
    """n_rows data rows; n_bad of them carry 1-2 invalid cells; n_dup
    are exact copies of good rows; n_null_topic good rows have every
    cell of one nullable topic blanked."""
    names = ["AL%d" % i for i in ASSET_COLS]
    n_base = n_rows - n_dup
    rows = []
    for r in range(n_base):
        row = []
        for c in names:
            kind, req, lo = ASSET.get(c, ("s", False, None))
            if c == "AL1":
                v = pcd
            elif c == "AL2":
                v = "Pool-" + ed
            elif c == "AL4":
                v = "Backup Servicer"     # a join key in gold: kept non-null
            elif c == "AL5":
                v = "L%s-%s-%06d" % (ed, pcd.replace("-", ""), r)
            elif c == "AL15":
                v = rng.choice(COUNTRIES + ["ND1"])
            elif c == "AL56":
                v = "%d.%02d" % (rng.randrange(1, 500000), rng.randrange(100))
            elif not req and rng.random() < 0.06:
                v = rng.choice(NO_DATA)
            else:
                v = valid_value(rng, kind, lo, c, r, ed)
            row.append(v)
        rows.append(row)
    idx = list(range(n_base))
    rng.shuffle(idx)
    bad = set(idx[:n_bad])
    null_rows = idx[n_bad:n_bad + n_null_topic]
    dup_src = idx[n_bad + n_null_topic:n_bad + n_null_topic + n_dup]
    pos = {c: i for i, c in enumerate(names)}
    injections = [("AL18", "9"), ("AL51", "2010-06-30"), ("AL30", "x12"),
                  ("AL8", "ND5"), ("AL56", " "), ("AL7", "maybe")]
    bad_cells = 0
    for k, r in enumerate(sorted(bad)):
        picks = [injections[k % len(injections)]]
        if k % 3 == 0:
            picks.append(injections[(k + 2) % len(injections)])
        for c, v in picks:
            rows[r][pos[c]] = v
        bad_cells += len(picks)
    all_null = {t: 0 for t in ASSET_TOPICS}
    for k, r in enumerate(null_rows):
        t = ASSET_NULLABLE_TOPICS[k % len(ASSET_NULLABLE_TOPICS)]
        lo, hi = ASSET_TOPICS[t]
        for i in ASSET_COLS:
            if lo <= i < hi:
                rows[r][pos["AL%d" % i]] = rng.choice(NO_DATA)
        all_null[t] += 1
    good_distinct = [rows[r] for r in range(n_base) if r not in bad]
    rows = rows + [list(rows[r]) for r in dup_src]
    rng.shuffle(rows)
    return names, Tape(rows, len(bad), bad_cells, all_null, good_distinct)


def bond_tape(rng, ed, pcd, n_rows, n_bad):
    names = ["BL%d" % i for i in range(1, BOND_COLS + 1)]
    rows = []
    for r in range(n_rows):
        row = []
        for c in names:
            kind, req, lo = BOND.get(c, ("s", False, None))
            if c == "BL1":
                v = pcd
            elif c == "BL2":
                v = "Issuer %s Tranche %04d" % (ed, r)
            elif not req and rng.random() < 0.06:
                v = rng.choice(NO_DATA)
            else:
                v = valid_value(rng, kind, lo, c, r, ed)
            row.append(v)
        rows.append(row)
    pos = {c: i for i, c in enumerate(names)}
    bad = set(rng.sample(range(n_rows), n_bad))
    for k, r in enumerate(sorted(bad)):
        c, v = [("BL32", "77"), ("BL38", "2011-01-01"), ("BL19", "ND1")][k % 3]
        rows[r][pos[c]] = v
    good = [rows[r] for r in range(n_rows) if r not in bad]
    return names, Tape(rows, len(bad), len(bad), {t: 0 for t in BOND_TOPICS},
                       good)


def write_tape(path, names, tape, units):
    """CSV with a BOM, a junk first header cell, a units row."""
    header = ["﻿Pool Cut-off Date"] + names[1:]
    lines = [",".join(header), ",".join(units + [""] * (len(names) - len(units)))]
    for row in tape.rows:
        lines.append(",".join(v.replace(",", " ") for v in row))
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def deal_xml(ed, pcd, country, balance, n_assets, request_id):
    return f"""<?xml version="1.0" encoding="UTF-8"?>
<ns:Envelope xmlns:ns="urn:edw">
  <ns:Header><ns:Noise>generated</ns:Noise></ns:Header>
  <ns:Body>
    <ns:Wrapper>
      <ns:Meta>m</ns:Meta>
      <ns:Deals>
        <ns:Deal>
          <ns:EDCode>{ed}</ns:EDCode>
          <ns:DealName>Lease Deal {ed} Société</ns:DealName>
          <ns:PoolCutOffDate>{pcd}T00:00:00</ns:PoolCutOffDate>
          <ns:Country/>
          <ns:DealVisibleToOrg/>
          <ns:DealVisibleToUser/>
          <ns:CountryCodeOfSecuritisedAsset>{country}</ns:CountryCodeOfSecuritisedAsset>
          <ns:CurrentPoolBalance>{balance}</ns:CurrentPoolBalance>
          <ns:OriginalPoolBalance>{balance}</ns:OriginalPoolBalance>
          <ns:NumberOfActiveAssets>{n_assets}</ns:NumberOfActiveAssets>
          <ns:DealSize>{balance}</ns:DealSize>
          <ns:DealVersion>1</ns:DealVersion>
          <ns:IsActiveDeal>Y</ns:IsActiveDeal>
          <ns:ISIN><ns:v>XS{ed[-6:]}01</ns:v><ns:v>XS{ed[-6:]}02</ns:v></ns:ISIN>
          <ns:Submissions>
            <ns:Submission>
              <ns:RequestId>{request_id}</ns:RequestId>
              <ns:MetricData>skip</ns:MetricData>
              <ns:IsProvisional>false</ns:IsProvisional>
              <ns:IsRestructured>false</ns:IsRestructured>
              <ns:SubmissionTimestamp>{pcd}</ns:SubmissionTimestamp>
            </ns:Submission>
          </ns:Submissions>
        </ns:Deal>
      </ns:Deals>
    </ns:Wrapper>
  </ns:Body>
</ns:Envelope>
"""


class Truth:
    """Accumulates the pipeline's expected outputs over tapes."""

    def __init__(self):
        self.topics = {}
        self.dirty = {"assets": 0, "bond_info": 0}
        self.bad_cells = {"assets": 0, "bond_info": 0}
        self.principal = {}      # country -> [Decimal, n]
        self.deals = {}          # ed -> (country, balance, n_assets)
        self.parts = []

    def add_assets(self, ed, pcd, tape):
        d = len(tape.good_distinct)
        for t in ASSET_TOPICS:
            self.topics[t] = self.topics.get(t, 0) + d - tape.all_null[t]
        self.dirty["assets"] += tape.bad_rows
        self.bad_cells["assets"] += tape.bad_cells
        for row in tape.good_distinct:
            country = clean(row[ASSET_COLS.index(15)])
            money = Decimal(clean(row[ASSET_COLS.index(56)]))  # two decimals
            acc = self.principal.setdefault(country, [Decimal(0), 0])
            acc[0] += money
            acc[1] += 1
        self.parts.append(ed + "_" + pcd.replace("-", ""))

    def add_bonds(self, tape):
        d = len(tape.good_distinct)
        for t in BOND_TOPICS:
            self.topics["bond." + t] = self.topics.get("bond." + t, 0) + d
        self.dirty["bond_info"] += tape.bad_rows
        self.bad_cells["bond_info"] += tape.bad_cells

    def as_json(self):
        principal = sorted(
            ([k, str(v[0]), v[1]] for k, v in self.principal.items()),
            key=lambda r: (r[0] is not None, r[0] or ""))
        return {"silver_rows": self.topics, "dirty_rows": self.dirty,
                "bad_cells": self.bad_cells,
                "deal_info_rows": len(self.deals),
                "principal_by_country": principal,
                "parts": self.parts}


def deal_codes(rng, n):
    return ["LES%s%04d" % (rng.choice("ABCDEFGH"), i + 1) for i in range(n)]


def write_deal(rng, truth, raw_dir, ed, pcd, size, xml=True, bond=True,
               request="r1"):
    """One deal's delivery for one cut-off date; returns bytes written."""
    os.makedirs(raw_dir, exist_ok=True)
    us, _ = pcd_parts(pcd)
    n = size["asset_rows"]
    names, tape = asset_tape(rng, ed, pcd, n, size["bad_rows"],
                             size["dup_rows"], size["null_topic_rows"])
    units = ["Date", "Pool", "Servicer", "Backup", "Lease Id", "Originator",
             "Flag (Y/N)", "Lessee", "Group", "Currency"]
    total = write_tape(os.path.join(raw_dir, f"{ed}_{us}_Loan_Data.csv"),
                       names, tape, units)
    truth.add_assets(ed, pcd, tape)
    if bond:
        bnames, btape = bond_tape(rng, ed, pcd, size["bond_rows"],
                                  size["bond_bad_rows"])
        total += write_tape(os.path.join(raw_dir, f"{ed}_{us}_Bond_Info.csv"),
                            bnames, btape, ["Report Date", "Issuer"])
        truth.add_bonds(btape)
    if xml:
        country = rng.choice(["es", "it", "fr", "de"])
        balance = "%d.%02d" % (rng.randrange(10**6, 10**8), rng.randrange(100))
        truth.deals[ed] = (country, balance, n)
        total += write_xml(raw_dir, ed, pcd, truth, request)
    return total


def write_xml(raw_dir, ed, pcd, truth, request):
    country, balance, n = truth.deals[ed]
    data = deal_xml(ed, pcd, country, balance, n, request).encode("utf-8")
    with open(os.path.join(raw_dir, f"{ed}_Deal_Details.xml"), "wb") as f:
        f.write(data)
    return len(data)


def gen_pipeline_daily(out, seed, size):
    """Day 1 comes from a fixed base seed so its lake snapshot is built
    once per checkout; the day-2 delivery comes from `seed`."""
    base = random.Random(size["day1_seed"])
    truth = Truth()
    eds = deal_codes(base, size["deals"])
    day1_bytes = 0
    for ed in eds:
        day1_bytes += write_deal(base, truth, os.path.join(out, "day1", ed),
                                 ed, "2023-06-30", size,
                                 bond=size["bond_rows"] > 0)
    day1_parts = list(truth.parts)
    rng = random.Random(seed)
    day2_bytes = 0
    redeliver = set(eds[:size["redelivered"]])
    for ed in eds:
        d2 = os.path.join(out, "day2", ed)
        day2_bytes += write_deal(rng, truth, d2, ed, "2023-07-31", size,
                                 xml=False, bond=False)
        # resubmitted deal XML: same cut-off date, new request id, so
        # bronze takes the SCD2 merge path over the day-1 version
        day2_bytes += write_xml(d2, ed, "2023-06-30", truth, "r2")
        if ed in redeliver:
            # the day-1 tape again: first-write-wins must skip it
            name = f"{ed}_2023_06_30_Loan_Data.csv"
            with open(os.path.join(out, "day1", ed, name), "rb") as f:
                data = f.read()
            with open(os.path.join(d2, name), "wb") as f:
                f.write(data)
            day2_bytes += len(data)
    new_parts = truth.parts[len(day1_parts):]
    truth.parts = day1_parts + new_parts
    return truth, day1_bytes + day2_bytes, {
        "day1_parts": day1_parts, "new_parts": new_parts, "deals": eds}


def clustered(rng, n, centers, subs, spread):
    """Points around sub-centres that sit around coarse centres."""
    lab = rng.integers(0, len(subs), n)
    x = (centers[lab % len(centers)] + subs[lab]
         + spread * rng.standard_normal((n, centers.shape[1])))
    return x.astype(np.float32)


def write_vectors(path, ids, x):
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    col = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1)))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": col}), path)
    return os.path.getsize(path)


def gen_vectors(out, seed, size):
    rng = np.random.default_rng(seed)
    dim = size["dim"]
    centers = rng.standard_normal((size["clusters"], dim))
    n, m, q = size["corpus"], size["append"], size["queries"]
    subs = 0.5 * rng.standard_normal((max(1, (n + m) // 12), dim))
    corpus = clustered(rng, n, centers, subs, size["spread"])
    more = clustered(rng, m, centers, subs, size["spread"])
    queries = clustered(rng, q, centers, subs, size["spread"])
    os.makedirs(out, exist_ok=True)
    total = write_vectors(os.path.join(out, "corpus.parquet"),
                          np.arange(n), corpus)
    total += write_vectors(os.path.join(out, "append.parquet"),
                           np.arange(n, n + m), more)
    write_vectors(os.path.join(out, "queries.parquet"), np.arange(q), queries)
    allv = np.vstack([corpus, more]).astype(np.float64)
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    qv = queries.astype(np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    sims = qv @ allv.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    return {"top10": top.tolist(), "n_corpus": n + m}, total


def generate(workload, seed, out, sizes):
    """Write the inputs of one workload for one seed into `out`."""
    os.makedirs(out, exist_ok=True)
    size = sizes[workload]
    manifest = {"workload": workload, "seed": seed}
    if workload == "daily_increment":
        truth, nbytes, extra = gen_pipeline_daily(out, seed, size)
        manifest["pipeline"] = truth.as_json()
        manifest.update(extra)
    else:
        vtruth, nbytes = gen_vectors(os.path.join(out, "vec"), seed, size)
        manifest["vectors"] = vtruth
    manifest["input_bytes"] = nbytes
    # the calibration kit: one small deal and a small corpus, so the
    # traced run can drive every layer on every workload
    kit = sizes["kit"]
    ktruth = Truth()
    krng = random.Random(seed + 7)
    write_deal(krng, ktruth, os.path.join(out, "kit", "raw", "LESKIT0001"),
               "LESKIT0001", "2023-05-31", kit)
    manifest["kit"] = ktruth.as_json()
    kv, _ = gen_vectors(os.path.join(out, "kit", "vec"), seed + 7, kit)
    manifest["kit"]["vectors"] = kv
    # one larger asset tape for the traced run's per-row layer probes,
    # so their per-row figures are not mostly per-job overhead
    ptruth = Truth()
    write_deal(krng, ptruth, os.path.join(out, "kit", "probe"), "LESPRB0001",
               "2023-04-30", sizes["probe"], xml=False, bond=False)
    manifest["probe"] = {"rows": sizes["probe"]["asset_rows"],
                         "bad_rows": ptruth.dirty["assets"],
                         "bad_cells": ptruth.bad_cells["assets"]}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
