"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from ``--seed``,
writes its files under a directory it is given, and returns a small dict
describing what it wrote: row counts, bytes on disk, and the expected
values the workload checks its outputs against. Nothing is read from
outside that directory. Sizes are stated in each function's docstring;
all of them are a few MB on disk, far below the engine's 8 GB driver heap.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

YEAR_COL = "destinationObjects_UsageYear.name"
LOC_COL = "destinationObjects_Location.name"
CLUSTER_COL = "destinationObjects_Cluster.name"
PROJECT_COL = "destinationObjects_Project.id"
DEST_ORG_COL = "destinationObjects_Organization.name"
ORG_ID_COL = "sourceObjects_Organization.id"
ORG_NAME_COL = "sourceObjects_Organization.name"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _write_csv(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path)


# --------------------------------------------------------------------------
# cva_annual_refresh: FTS-shaped raw flows + the reference dimensions
# --------------------------------------------------------------------------

COUNTRIES = [
    ("Afghanistan", "AFG"), ("Bangladesh", "BGD"), ("Burkina Faso", "BFA"),
    ("Cameroon", "CMR"), ("Chad", "TCD"), ("Colombia", "COL"),
    ("Democratic Republic of the Congo", "COD"), ("Ethiopia", "ETH"),
    ("Haiti", "HTI"), ("Iraq", "IRQ"), ("Jordan", "JOR"), ("Kenya", "KEN"),
    ("Lebanon", "LBN"), ("Libya", "LBY"), ("Mali", "MLI"),
    ("Mozambique", "MOZ"), ("Myanmar", "MMR"), ("Niger", "NER"),
    ("Nigeria", "NGA"), ("Pakistan", "PAK"), ("Somalia", "SOM"),
    ("South Sudan", "SSD"), ("Sudan", "SDN"), ("Syrian Arab Republic", "SYR"),
    ("Türkiye", "TUR"), ("Uganda", "UGA"), ("Ukraine", "UKR"),
    ("Venezuela (Bolivarian Republic of)", "VEN"), ("Yemen", "YEM"),
    ("Zimbabwe", "ZWE"),
]
DONORS = [
    ("United States of America, Government of", "USA", "Governments"),
    ("United States Department of State", "USA", "Governments"),
    ("United States Agency for International Development", "USA",
     "Governments"),
    ("Germany, Government of", "DEU", "Governments"),
    ("United Kingdom, Government of", "GBR", "Governments"),
    ("European Commission's Humanitarian Aid and Civil Protection "
     "Department", "BEL", "Multilateral Organizations"),
    ("Sweden, Government of", "SWE", "Governments"),
    ("Norway, Government of", "NOR", "Governments"),
    ("Japan, Government of", "JPN", "Governments"),
    ("Central Emergency Response Fund", "", "UN Agencies"),
]
DAC_ISOS = ["USA", "DEU", "GBR", "BEL", "SWE", "NOR", "JPN"]
IMPLEMENTERS = [
    "World Food Programme", "United Nations Children's Fund",
    "Norwegian Refugee Council", "Danish Refugee Council",
    "International Rescue Committee", "Save the Children",
    "Catholic Relief Services", "World Vision International",
    "Mercy Corps", "CARE International", "Action Against Hunger",
    "International Federation of Red Cross and Red Crescent Societies",
    "International Organization for Migration", "Oxfam GB",
    "Concern Worldwide", "Plan International",
    "International NGOs (Confidential)",
]
CLUSTERS = [
    "Food Security", "Health", "Shelter/NFI", "Protection",
    "Water Sanitation Hygiene", "Education", "Nutrition",
]
CASH_CLUSTER_VALUES = [
    "Multi-Purpose Cash Assistance (MPCA)", "Cash", "Multipurpose cash",
]
DESCRIPTIONS_CASH = [
    "Unconditional cash transfers for displaced households",
    "Voucher assistance for food insecure families",
    "Multi-purpose cash grant to returnees",
    "Transferts monétaires et espèces pour les ménages",
    "CVA programme for flood affected areas",
]
DESCRIPTIONS_OTHER = [
    "Emergency health services in camps",
    "Rehabilitation of water points",
    "Shelter kits and non-food items",
    "Protection monitoring and case management",
    "School feeding and learning spaces",
    "Nutrition screening for children under five",
]
YEARS = list(range(2017, 2025))
QUANT_Q = "3.1 - Estimated % of requirements to be used for cash transfer"
FLAG_Q = "Does this project include cash transfer programming?"
OTHER_Q = "Number of beneficiaries targeted"
PCT_ANSWERS = ["25%", "30 percent", "0.4", "less than 1%", "n/a", "100%",
               "50", "10.5%"]
BOOL_ANSWERS = ["Yes", "No", "true", "Qui", "no"]


def _packed(rng, pool: list, n: int, p_multi: float, max_k: int):
    """``n`` "; "-packed values from ``pool`` and their element counts."""
    k = np.where(rng.random(n) < p_multi, rng.integers(2, max_k + 1, n), 1)
    out = []
    for i in range(n):
        picks = rng.choice(len(pool), int(k[i]), replace=False)
        out.append("; ".join(pool[j] for j in sorted(picks)))
    return out, k


def fts_inputs(rng, out_dir: str, n_flows: int) -> dict:
    """FTS flows (FIXTURES.md §1-5, 10-13) for one annual refresh.

    ``n_flows`` distinct flow ids; 10% of them are shared-boundary flows
    emitted twice (incoming + internal, one survives D1) and a further 8%
    extra standalone outgoing flows are emitted (dropped by F1). Years
    and locations are "; "-packed on 20% / 25% of flows. At the workload's
    size (40k flow ids → ~48k raw rows, ~2.5 MB parquet) the curated
    table is ~80k rows. Also writes one year's re-ingest file, the
    dimension CSVs, the project Q&A table, manual decisions and the
    survey sub-grant sheet.

    Returns the expected curated row count and Σ amountUSD per year
    (the equal-split explode conserves Σ), for both the full load and
    the re-ingested year.
    """
    n = n_flows
    ids = np.arange(1, n + 1, dtype=np.int64) * 7 + rng.integers(0, 7, n)
    amount = np.round(rng.lognormal(11.0, 1.6, n), 2)
    years_packed, n_years = _packed(rng, [str(y) for y in YEARS], n, 0.2, 3)
    locs_packed, n_locs = _packed(
        rng, [c for c, _ in COUNTRIES], n, 0.25, 3
    )
    shared = rng.random(n) < 0.10
    status = rng.choice(["paid", "commitment", "pledge"], n, p=[.7, .2, .1])
    method = np.where(
        rng.random(n) < 0.15, "Cash transfer programming (CTP)",
        "Traditional aid",
    )
    new_money = rng.choice(["TRUE", "FALSE"], n)
    is_cash_desc = rng.random(n) < 0.3
    desc = np.where(
        is_cash_desc,
        rng.choice(DESCRIPTIONS_CASH, n),
        rng.choice(DESCRIPTIONS_OTHER, n),
    )
    cluster_kind = rng.random(n)
    clusters = []
    for i in range(n):
        c = cluster_kind[i]
        if c < 0.15:
            clusters.append("")
        elif c < 0.25:
            clusters.append(CASH_CLUSTER_VALUES[i % 3])
        elif c < 0.35:
            clusters.append(
                f"{CASH_CLUSTER_VALUES[i % 3]}; {CLUSTERS[i % 7]}"
            )
        elif c < 0.5:
            clusters.append(f"{CLUSTERS[i % 7]}; {CLUSTERS[(i + 3) % 7]}")
        else:
            clusters.append(CLUSTERS[i % 7])
    n_projects = max(1, n // 20)
    has_project = rng.random(n) < 0.4
    project = np.where(
        has_project,
        np.char.add("P", rng.integers(0, n_projects, n).astype(str)),
        None,
    )
    donor = rng.integers(0, len(DONORS), n)
    dest_org = rng.choice(IMPLEMENTERS, n)

    def table(sel, boundary, on_boundary, id_arr=None, amt=None):
        m = int(sel.sum()) if sel.dtype == bool else len(sel)
        return pa.table({
            "id": pa.array(ids[sel] if id_arr is None else id_arr, pa.int64()),
            "amountUSD": pa.array(amount[sel] if amt is None else amt,
                                  pa.float64()),
            "boundary": pa.array([boundary] * m, pa.string()),
            "onBoundary": pa.array([on_boundary] * m, pa.string()),
            "status": pa.array(status[sel], pa.string()),
            "method": pa.array(method[sel], pa.string()),
            "newMoney": pa.array(new_money[sel], pa.string()),
            "description": pa.array(desc[sel], pa.string()),
            YEAR_COL: pa.array(np.array(years_packed, object)[sel],
                               pa.string()),
            LOC_COL: pa.array(np.array(locs_packed, object)[sel],
                              pa.string()),
            CLUSTER_COL: pa.array(np.array(clusters, object)[sel],
                                  pa.string()),
            DEST_ORG_COL: pa.array(dest_org[sel], pa.string()),
            PROJECT_COL: pa.array(project[sel], pa.string()),
            ORG_ID_COL: pa.array(np.char.add("O", donor[sel].astype(str)),
                                 pa.string()),
            ORG_NAME_COL: pa.array([DONORS[d][0] for d in donor[sel]],
                                   pa.string()),
        })

    everyone = np.ones(n, bool)
    incoming = table(everyone, "incoming", "single")
    incoming = incoming.set_column(
        3, "onBoundary",
        pa.array(np.where(shared, "shared", "single"), pa.string()),
    )
    internal_dups = table(shared, "internal", "shared")
    n_out = int(n * 0.08)
    out_sel = rng.choice(n, n_out, replace=False)
    outgoing = table(
        out_sel, "outgoing", "single",
        id_arr=np.arange(n_out, dtype=np.int64) * 7 + 7 * (n + 10),
        amt=np.round(rng.lognormal(11.0, 1.6, n_out), 2),
    )
    raw = pa.concat_tables([incoming, internal_dups, outgoing])
    raw = raw.take(rng.permutation(raw.num_rows))
    raw_dir = os.path.join(out_dir, "raw")
    for k in range(4):  # four "year-files", as the reference fetches them
        _write_parquet(raw.slice(k * raw.num_rows // 4,
                                 (k + 1) * raw.num_rows // 4
                                 - k * raw.num_rows // 4),
                       os.path.join(raw_dir, f"part-{k}.parquet"))

    # expected curated grain: one row per (surviving flow, year, location)
    per_year_rows = {y: 0 for y in YEARS}
    per_year_sum = {y: 0.0 for y in YEARS}
    for i in range(n):
        ys = years_packed[i].split("; ")
        for y in ys:
            per_year_rows[int(y)] += int(n_locs[i])
            per_year_sum[int(y)] += amount[i] / n_years[i]

    # re-ingest: revised single-year flows for the latest year
    re_year = YEARS[-1]
    m = max(1, n // 10)
    re_locs, re_nlocs = _packed(rng, [c for c, _ in COUNTRIES], m, 0.25, 3)
    re_amt = np.round(rng.lognormal(11.0, 1.6, m), 2)
    sel = rng.choice(n, m, replace=False)
    re_tbl = table(sel, "incoming", "single",
                   id_arr=ids[sel], amt=re_amt)
    re_tbl = re_tbl.set_column(
        re_tbl.schema.get_field_index(YEAR_COL), YEAR_COL,
        pa.array([str(re_year)] * m, pa.string()),
    ).set_column(
        re_tbl.schema.get_field_index(LOC_COL), LOC_COL,
        pa.array(re_locs, pa.string()),
    )
    _write_parquet(re_tbl, os.path.join(out_dir, "reingest",
                                        "part-0.parquet"))

    # dimensions, as the reference ships them (CSV)
    isos = pa.table({
        "countryname_fts": [c for c, _ in COUNTRIES],
        "iso3": [i for _, i in COUNTRIES],
    })
    _write_csv(isos, os.path.join(out_dir, "dims", "isos.csv"))
    orgs = pa.table({
        ORG_ID_COL: [f"O{k}" for k in range(len(DONORS))],
        "source_org_country": [d[0].split(",")[0] for d in DONORS],
        "source_org_iso3": [d[1] or None for d in DONORS],
        "FTS_source_orgtype": [d[2] for d in DONORS],
    })
    _write_csv(orgs, os.path.join(out_dir, "dims", "orgs.csv"))
    # deflators miss every (iso, 2024) pair → DAC fallback for that year
    defl_iso, defl_year, defl = [], [], []
    for iso in DAC_ISOS:
        for y in YEARS[:-1]:
            defl_iso.append(iso)
            defl_year.append(y)
            defl.append(round(float(rng.uniform(0.85, 1.15)), 4))
    _write_csv(
        pa.table({"iso3": defl_iso, "year": defl_year, "gdp_defl": defl}),
        os.path.join(out_dir, "dims", "deflators.csv"),
    )
    _write_csv(
        pa.table({
            "year": YEARS,
            "gdp_defl": [round(0.9 + 0.02 * k, 4) for k in range(len(YEARS))],
        }),
        os.path.join(out_dir, "dims", "dac_deflators.csv"),
    )
    # project Q&A, long format (code/06) + question labels (code/07)
    qa_pid, qa_q, qa_a = [], [], []
    for p in range(n_projects):
        pid = f"P{p}"
        r = rng.random()
        if r < 0.5:
            qa_pid.append(pid)
            qa_q.append(QUANT_Q)
            qa_a.append(PCT_ANSWERS[p % len(PCT_ANSWERS)])
        if r > 0.3:
            qa_pid.append(pid)
            qa_q.append(FLAG_Q)
            qa_a.append(BOOL_ANSWERS[p % len(BOOL_ANSWERS)])
        qa_pid.append(pid)
        qa_q.append(OTHER_Q if r < 0.9 else "No field questions")
        qa_a.append(str(int(rng.integers(100, 5000))))
    _write_parquet(
        pa.table({
            "project_id": qa_pid,
            "question": qa_q,
            "answer": qa_a,
            "project_name": [f"Project {p}" for p in qa_pid],
            "project_objective": [
                "cash assistance to households" if int(p[1:]) % 5 == 0
                else "emergency response" for p in qa_pid
            ],
        }),
        os.path.join(out_dir, "projects_qa", "part-0.parquet"),
    )
    _write_csv(
        pa.table({
            "question": [QUANT_Q, FLAG_Q],
            "question_type": ["quantC", "flagCVA"],
        }),
        os.path.join(out_dir, "dims", "question_labels.csv"),
    )
    dec_ids = rng.choice(ids, max(1, n // 200), replace=False)
    _write_csv(
        pa.table({
            "id": pa.array(dec_ids, pa.int64()),
            "accepted": rng.random(len(dec_ids)) < 0.7,
        }),
        os.path.join(out_dir, "dims", "decisions.csv"),
    )
    # survey sub-grants: messy recipient names for the 4-stage matcher
    variants = []
    for name in IMPLEMENTERS:
        variants += [name, name.upper() + "!", name[:-1],
                     name.split(" ")[0] + " " + name.split(" ")[-1]]
    variants += ["Unknown", "Not provided (potentially sensitive)", "wfp",
                 "drc"]
    k = len(variants) * 3
    _write_csv(
        pa.table({
            "recipient_name": [variants[j % len(variants)] for j in range(k)],
            "Year": pa.array(rng.choice(YEARS, k), pa.int32()),
            "amount": np.round(rng.uniform(0.01, 2.0, k), 4),
        }),
        os.path.join(out_dir, "dims", "sub_grants.csv"),
    )
    _write_csv(
        pa.table({"Year": YEARS,
                  "PC_average_used": [0.5 + 0.01 * k
                                      for k in range(len(YEARS))]}),
        os.path.join(out_dir, "dims", "pc_tv.csv"),
    )
    re_rows = int(re_nlocs.sum())
    return {
        "raw_rows": raw.num_rows,
        "raw_bytes": dir_bytes(raw_dir),
        "curated_rows": sum(per_year_rows.values()),
        "per_year_rows": per_year_rows,
        "per_year_sum": per_year_sum,
        "reingest_year": re_year,
        "reingest_rows": re_rows,
        "reingest_sum": float(re_amt.sum()),
    }


# --------------------------------------------------------------------------
# catalog_interactive: the sf0.01-shaped star schema + events/docs/vectors
# --------------------------------------------------------------------------

ADJ = ["small", "red", "big", "blue", "green", "shiny", "old", "fast"]
NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "cable"]
DOC_WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big order group query "
    "filter stream vector customer"
).split()


def _ts(rng, start: dt.datetime, seconds: int, n: int, tz=None):
    """``n`` random microsecond timestamps in ``seconds`` from ``start``."""
    base = np.datetime64(start, "us")
    off = rng.integers(0, seconds * 10**6, n)
    return pa.array(base + off.astype("timedelta64[us]"),
                    pa.timestamp("us", tz=tz))


def _days(rng, start: dt.date, days: int, n: int):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def catalog_tables(rng, out_dir: str) -> dict:
    """The ten catalog tables at sf0.01 shape and size: lineitem 60k,
    orders 15k, part 2k, customer 1.5k, supplier 100, nation 25, region
    5, events 10k, documents 500, embeddings 500 × 64 floats (~2 MB
    parquet in all)."""
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, t: _write_parquet(t, os.path.join(out_dir,
                                                       f"{name}.parquet"))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }))
    nc, ns, np_, no, nl, ne, nd = 1500, 100, 2000, 15000, 60000, 10000, 500
    w("customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], nc),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }))
    w("part", pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1
                                  + rng.integers(0, 100, np_), 2),
    }))
    w("orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no),
    }))
    qty = rng.integers(1, 51, nl).astype(float)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2497, nl),
    }))
    w("events", events_table(rng, ne, 0))
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(20, 80)))])
             for _ in range(nd)]
    w("documents", pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[.6, .1, .1, .1, .1]),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    vecs = rng.normal(0, 1, (nd, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    w("embeddings", pa.table({
        "vec_id": pa.array(range(nd), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nd), pa.int32()),
    }))
    return {"bytes": dir_bytes(out_dir), "lineitem_rows": nl}


# --------------------------------------------------------------------------
# events_stream: a backlog of event files
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def events_table(rng, n: int, first_id: int, tz=None) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(rng, dt.datetime(2024, 1, 1), 30 * 86400, n, tz=tz),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def event_backlog(rng, out_dir: str, n_files: int, per_file: int) -> dict:
    """``n_files`` parquet files of ``per_file`` events each, timestamps
    in event-time order across files (a replayed day-by-day backlog) and
    5% of each file's events re-sent from the previous file (duplicates
    for the dedup stream). 64 × 2000 events is ~1.6 MB on disk."""
    os.makedirs(out_dir, exist_ok=True)
    span = 30 * 86400 // n_files
    prev = None
    n_rows = 0
    for k in range(n_files):
        t = events_table(rng, per_file, k * per_file, tz="UTC")
        start = np.datetime64(dt.datetime(2024, 1, 1), "us") + np.timedelta64(
            k * span, "s")
        off = np.sort(rng.integers(0, span * 10**6, per_file))
        t = t.set_column(1, "ts", pa.array(
            start + off.astype("timedelta64[us]"),
            pa.timestamp("us", tz="UTC")))
        if prev is not None:
            t = pa.concat_tables([t, prev.slice(0, per_file // 20)])
        _write_parquet(t, os.path.join(out_dir, f"events-{k:03d}.parquet"))
        prev = t.slice(0, per_file)
        n_rows += t.num_rows
    return {
        "rows": n_rows,
        "distinct_ids": n_files * per_file,
        "bytes": dir_bytes(out_dir),
    }


# --------------------------------------------------------------------------
# corpus_release: multi-source documents with planted defects
# --------------------------------------------------------------------------

VOCAB = (
    "the of and to in a is that for it as was with be by on not he this "
    "are or his from at which but have an they you were her she there "
    "been one all we their has would when if so no will can more out "
    "river market engine signal garden winter paper forest harbor music "
    "station mountain letter island kitchen window bridge cloud teacher "
    "doctor village camera engine planet bottle silver copper morning"
).split()


def corpus(rng, out_dir: str, n_docs: int) -> dict:
    """``n_docs`` documents over 8 sources: 6% exact duplicates of an
    earlier doc (higher id, so the min-id survivor rule drops the copy),
    6% near duplicates (one word changed), 8% low-quality docs (under
    10 tokens or punctuation-heavy), and 3% containing a 13-word span
    of the benchmark set. Also writes the 40-doc benchmark set.
    2k docs of 40-120 words is ~0.6 MB."""
    words = np.array(VOCAB)
    base = [" ".join(words[rng.integers(0, len(words),
                                        int(rng.integers(40, 120)))])
            for _ in range(n_docs)]
    bench = [" ".join(words[rng.integers(0, len(words), 30)])
             for _ in range(40)]
    kind = rng.random(n_docs)
    texts, exact_dups = [], []
    for i in range(n_docs):
        k = kind[i]
        if i > 10 and k < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
            exact_dups.append(i)
        elif i > 10 and k < 0.12:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "zebra"
            texts.append(" ".join(toks))
        elif k < 0.16:
            texts.append(" ".join(words[rng.integers(0, len(words), 5)]))
        elif k < 0.20:
            texts.append("!!! ??? ### " * 8 + base[i][:40])
        elif k < 0.23:
            span = bench[int(rng.integers(0, 40))].split()[:13]
            texts.append(base[i] + " " + " ".join(span))
        else:
            texts.append(base[i])
    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{k}" for k in rng.integers(0, 8, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "docs", "part-0.parquet"))
    _write_parquet(pa.table({
        "bench_id": pa.array(range(len(bench)), pa.int64()),
        "text": bench,
    }), os.path.join(out_dir, "benchmark", "part-0.parquet"))
    return {"docs": n_docs, "exact_dup_ids": exact_dups,
            "bytes": dir_bytes(os.path.join(out_dir, "docs"))}
