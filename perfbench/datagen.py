"""Seeded input generation for the perfbench workloads.

Every table is a pure function of (seed, size): the same seed writes
byte-identical parquet. Nothing here touches Spark, so the inputs and
the independent replays that check the engine's outputs stay separate
from the engine under test.

Three input sets:
  * `tpch(dir, seed, sf)` — the TPC-H-shaped star schema plus `events`,
    `documents` and `embeddings`, in the column layout the query corpus
    reads (same types, domains and value ranges as the repo's testdata).
  * `reference(dir, seed, users)` — the 14 reference source tables of
    the dbt models, scaled up, shaped so the mart's two data checks hold.
  * `changes(dir, seed, ...)` — a keyed base table and K change batches
    for the incremental folds, plus their last-write-wins replays.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = dt.datetime(1970, 1, 1)


def _rng(seed, *stream):
    """One independent generator per (seed, stream) pair."""
    return np.random.default_rng([seed & 0xFFFFFFFF, *stream])


def _write(path, cols, schema):
    table = pa.table({n: pa.array(cols[n], type=t) for n, t in schema}, )
    pq.write_table(table, path)


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


# ---- TPC-H-shaped tables ---------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]

I32, I64, F64, STR, TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), \
    pa.timestamp("us")


def tpch_sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "event_users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def tpch(out, seed, sf):
    """Write the ten query-corpus tables for scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    n = tpch_sizes(sf)
    p = lambda t: os.path.join(out, f"{t}.parquet")

    _write(p("region"), {"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS},
           [("r_regionkey", I32), ("r_name", STR)])
    _write(p("nation"), {"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           [("n_nationkey", I32), ("n_name", STR), ("n_regionkey", I32)])

    r = _rng(seed, 1)
    k = n["customer"]
    _write(p("customer"), {
        "c_custkey": np.arange(k), "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": r.choice(SEGMENTS, k)},
        [("c_custkey", I64), ("c_name", STR), ("c_nationkey", I32),
         ("c_acctbal", F64), ("c_mktsegment", STR)])

    r = _rng(seed, 2)
    k = n["supplier"]
    _write(p("supplier"), {
        "s_suppkey": np.arange(k), "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2)},
        [("s_suppkey", I64), ("s_name", STR), ("s_nationkey", I32),
         ("s_acctbal", F64)])

    r = _rng(seed, 3)
    k = n["part"]
    keys = np.arange(k)
    _write(p("part"), {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(ADJ, k), r.choice(NOUN, k))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
        "p_type": r.choice(PTYPES, k),
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)},
        [("p_partkey", I64), ("p_name", STR), ("p_brand", STR),
         ("p_type", STR), ("p_size", I32), ("p_retailprice", F64)])

    r = _rng(seed, 4)
    k = n["orders"]
    _write(p("orders"), {
        "o_orderkey": np.arange(k),
        "o_custkey": r.integers(0, n["customer"], k),
        "o_orderstatus": r.choice(["F", "O", "P"], k),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, k), 2),
        "o_orderdate": _days("1995-01-01", 2404, r, k),
        "o_orderpriority": r.choice(PRIORITIES, k)},
        [("o_orderkey", I64), ("o_custkey", I64), ("o_orderstatus", STR),
         ("o_totalprice", F64), ("o_orderdate", TS), ("o_orderpriority", STR)])

    r = _rng(seed, 5)
    k = n["lineitem"]
    _write(p("lineitem"), {
        "l_orderkey": r.integers(0, n["orders"], k),
        "l_partkey": r.integers(0, n["part"], k),
        "l_suppkey": r.integers(0, n["supplier"], k),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], k),
        "l_linestatus": r.choice(["F", "O"], k),
        "l_shipdate": _days("1995-01-02", 2499, r, k)},
        [("l_orderkey", I64), ("l_partkey", I64), ("l_suppkey", I64),
         ("l_linenumber", I32), ("l_quantity", F64), ("l_extendedprice", F64),
         ("l_discount", F64), ("l_tax", F64), ("l_returnflag", STR),
         ("l_linestatus", STR), ("l_shipdate", TS)])

    r = _rng(seed, 6)
    k = n["events"]
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, k))
    _write(p("events"), {
        "event_id": np.arange(k),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, n["event_users"], k),
        "event_type": r.choice(EVENT_TYPES, k),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, k), 2)),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)]},
        [("event_id", I64), ("ts", TS), ("user_id", I64), ("event_type", STR),
         ("value", F64), ("props", STR)])

    r = _rng(seed, 7)
    k = n["documents"]
    lens = r.integers(10, 100, k)
    text = [" ".join(r.choice(WORDS, m)) for m in lens]
    _write(p("documents"), {
        "doc_id": np.arange(k), "text": text,
        "lang": r.choice(LANGS, k, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)},
        [("doc_id", I64), ("text", STR), ("lang", STR), ("source", STR),
         ("n_chars", I64)])

    r = _rng(seed, 8)
    k = n["embeddings"]
    v = r.normal(size=(k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": np.arange(k), "embedding": list(v),
        "label": r.integers(0, 10, k).astype(np.int32)},
        [("vec_id", I64), ("embedding", pa.list_(pa.float32())), ("label", I32)])
    return {t: v for t, v in n.items() if t != "event_users"}


# ---- reference (dbt) source tables -----------------------------------------

BOOL = pa.bool_()
FIRST = ["Ann", "Bob", "Cal", "Dee", "Eve", "Fay", "Gil", "Hal", "Ivy", "Jon",
         "Kai", "Lea", "Max", "Ned", "Ora", "Pat", "Te st", "Testa"]
LAST = ["Lee", "Kim", "Rey", "Soto", "Wu", "Ona", "Diaz", "Moss", "Park",
        "Test", "Vale", "Yoon"]
RACES = [None, "White", "White, Other", "Hispanic or Latinx",
         "Black or African American", "South Asian", "East Asian", "Other",
         "Native American or Alaska Native", "Prefer not to say",
         "Native Hawaiian or other Pacific Islander"]
GENDERS = [None, "Man", "Woman", "Nonbinary", "Man, Woman",
           "Prefer to self-describe", "Prefer not to say"]
PLACE = ["Oak", "Pine", "Cedar", "Maple", "Elm", "Birch", "Ash", "Willow",
         "Spruce", "Aspen", "Hazel", "Alder"]


def reference_sizes(users):
    partners = max(4, users // 200)
    return {"user_user": users, "user_partner": partners,
            "user_site": 3 * partners, "educator_classroom": max(10, users // 12),
            "location_leaves": max(20, users // 3)}


def reference(out, seed, users):
    """Write the 14 reference source tables with `users` users.

    Shaped so the mart's data checks hold: every user reaches at most
    one attribution route, partners carry one invite code each,
    classrooms at most one, and users at most one widget key, so
    (user_id, partner_id, site_id) stays unique in user_base."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 20)
    n = reference_sizes(users)
    w = lambda t, cols, schema: _write(os.path.join(out, f"{t}.parquet"), cols, schema)

    # partners, sites, partner invite codes (one per partner)
    n_p, n_s, n_c = n["user_partner"], n["user_site"], n["educator_classroom"]
    partner_ids = 20_000 + np.arange(n_p)
    w("user_partner", {"id": partner_ids, "name": [f"Partner {i}" for i in range(n_p)]},
      [("id", I64), ("name", STR)])
    site_ids = 10_000 + np.arange(n_s)
    site_partner = partner_ids[np.arange(n_s) % n_p]
    w("user_site", {"id": site_ids, "name": [f"Site {i}" for i in range(n_s)],
                    "partner_id": site_partner},
      [("id", I64), ("name", STR), ("partner_id", I64)])
    code_ids = 30_000 + np.arange(n_p)
    w("user_partnerinvitecode", {"id": code_ids, "code": [f"PC{i}" for i in range(n_p)],
                                 "partner_id": partner_ids, "site_id": site_ids[:n_p]},
      [("id", I64), ("code", STR), ("partner_id", I64), ("site_id", I64)])

    # classrooms: a few without a site; about 70% with one invite code
    class_ids = 1 + np.arange(n_c)
    class_site = r.choice(site_ids, n_c).astype(object)
    class_site[r.random(n_c) < 0.05] = None
    w("educator_classroom", {"id": class_ids, "site_id": list(class_site),
                             "name": [f"Class {i}" for i in range(n_c)]},
      [("id", I64), ("site_id", I64), ("name", STR)])
    coded = class_ids[r.random(n_c) < 0.7]
    w("educator_classroominvitecode", {"code": [f"CC{i}" for i in coded],
                                       "classroom_id": coded},
      [("code", STR), ("classroom_id", I64)])

    # locations: countries, states, counties, cities, then the leaf
    # locations users point at, linked to their components
    locs, edges, types = [], [], []

    def loc(i, name, long_name, lat, lon, t=None):
        locs.append((i, name, long_name, lat, lon, f"slug{i}"))
        if t is not None:
            types.append((i, t))

    countries = [(1000 + i, f"Country {i}", f"Country {i} Federation") for i in range(3)]
    for i, nm, ln in countries:
        loc(i, nm, ln, float(r.uniform(-40, 60)), float(r.uniform(-120, 120)), 1)
    states = []
    for j in range(15):
        i = 2000 + j
        # one state shares its display name with a country's long name
        nm = countries[0][2] if j == 0 else f"State {j}"
        loc(i, nm, nm, float(r.uniform(25, 49)), float(r.uniform(-120, -70)), 7)
        states.append(i)
    counties = []
    for j in range(60):
        i = 3000 + j
        loc(i, f"{PLACE[j % 12]} County {j}", f"{PLACE[j % 12]} County {j}",
            float(r.uniform(25, 49)), float(r.uniform(-120, -70)), 8)
        counties.append(i)
    cities, city_xy = [], {}
    for j in range(300):
        i = 4000 + j
        lat, lon = float(r.uniform(25, 49)), float(r.uniform(-120, -70))
        loc(i, f"{PLACE[j % 12]} Town {j}", f"{PLACE[j % 12]} Town {j}", lat, lon,
            3 if j % 3 else 4)
        cities.append(i)
        city_xy[i] = (lat, lon)
    leaves = []
    for j in range(n["location_leaves"]):
        i = 100_000 + j
        c = int(r.choice(cities))
        lat0, lon0 = city_xy[c]
        kind = r.random()
        if kind < 0.4:
            name = f"{int(r.integers(1, 9999))} {PLACE[j % 12]} {['St', 'Ave', 'Rd'][j % 3]}"
        elif kind < 0.8:
            name = f"{PLACE[j % 12]}ville {j}"
        else:
            name = f"{PLACE[j % 12]} Hamlet {j}"
        if r.random() < 0.08:
            lat, lon = None, None
        else:
            lat = lat0 + float(r.normal(0, 0.25))
            lon = lon0 + float(r.normal(0, 0.25))
        loc(i, name, name, lat, lon, 3 if r.random() < 0.15 else None)
        leaves.append(i)
        comps = {c}
        if r.random() < 0.5:
            comps.add(int(r.choice(cities)))
        comps.add(int(r.choice(counties)))
        comps.add(int(r.choice(states)))
        comps.add(countries[int(r.integers(0, 3))][0])
        edges.extend((i, t) for t in sorted(comps))
    w("location_location",
      {"id": [x[0] for x in locs], "display_name": [x[1] for x in locs],
       "long_name": [x[2] for x in locs], "latitude": [x[3] for x in locs],
       "longitude": [x[4] for x in locs], "slug": [x[5] for x in locs]},
      [("id", I64), ("display_name", STR), ("long_name", STR), ("latitude", F64),
       ("longitude", F64), ("slug", STR)])
    w("location_location_address_components",
      {"from_location_id": [e[0] for e in edges], "to_location_id": [e[1] for e in edges]},
      [("from_location_id", I64), ("to_location_id", I64)])
    w("location_location_types",
      {"location_id": [t[0] for t in types], "locationtype_id": [t[1] for t in types]},
      [("location_id", I64), ("locationtype_id", I64)])

    # users and the one attribution route each may take
    ids = 1 + np.arange(users)
    utype = r.choice(["E", "CL", "IL"], users, p=[0.05, 0.70, 0.25])
    route = np.where(utype == "E", "educator",
                     np.where(utype == "IL", "none",
                              r.choice(["member", "invite", "action", "none"], users,
                                       p=[0.5, 0.15, 0.15, 0.2])))
    emails = [f"{'test' if r.random() < 0.02 else 'user'}{i}@example.com" for i in ids]
    loc_choice = r.random(users)
    location_id = [None if x < 0.25 else int(r.choice(cities)) if x < 0.3
                   else int(r.choice(leaves)) for x in loc_choice]
    birthday = []
    for _ in range(users):
        x = r.random()
        birthday.append(None if x < 0.1 else "xx-abcd" if x < 0.13
                        else f"{int(r.integers(1, 13)):02d}-{int(r.integers(1950, 2011))}")
    race = r.integers(0, len(RACES), users)
    gender = r.integers(0, len(GENDERS), users)
    w("user_user", {
        "id": ids, "uuid": [f"u{i}" for i in ids],
        "first_name": r.choice(FIRST, users), "last_name": r.choice(LAST, users),
        "email": emails, "type": utype,
        "race_ethnicity": [RACES[i] for i in race],
        "gender": [GENDERS[i] for i in gender],
        "self_describe_gender": ["fluid" if GENDERS[i] == "Prefer to self-describe" else None
                                 for i in gender],
        "date_joined": _days("2019-01-01", 2400, r, users),
        "is_active": r.random(users) < 0.9, "is_staff": r.random(users) < 0.03,
        "birthday": birthday, "location_id": location_id},
        [("id", I64), ("uuid", STR), ("first_name", STR), ("last_name", STR),
         ("email", STR), ("type", STR), ("race_ethnicity", STR), ("gender", STR),
         ("self_describe_gender", STR), ("date_joined", TS), ("is_active", BOOL),
         ("is_staff", BOOL), ("birthday", STR), ("location_id", I64)])

    wid = ids[r.random(users) < 0.1]
    w("widget_widgetuserapikey", {"id": 1 + np.arange(len(wid)), "user_id": wid},
      [("id", I64), ("user_id", I64)])
    pick = lambda kind: ids[route == kind]
    edu = pick("educator")
    w("educator_classroom_educators", {"user_id": edu,
                                       "classroom_id": r.choice(class_ids, len(edu))},
      [("user_id", I64), ("classroom_id", I64)])
    mem = pick("member")
    w("educator_classroomlearnermembership",
      {"user_id": mem, "classroom_id": r.choice(class_ids, len(mem))},
      [("user_id", I64), ("classroom_id", I64)])
    inv = pick("invite")
    # invitations match users on lower(trim(email)); independent
    # learners are invited too, and the models must drop them
    il = ids[utype == "IL"][: max(1, len(inv) // 10)]
    inv_mail = [f"  {emails[i - 1].upper()} " if k % 2 else emails[i - 1]
                for k, i in enumerate(np.concatenate([inv, il]))]
    w("educator_classroominvitation",
      {"email": inv_mail, "classroom_id": r.choice(class_ids, len(inv_mail))},
      [("email", STR), ("classroom_id", I64)])
    act = pick("action")
    others = r.choice(ids, max(1, len(act) // 5))
    w("action_userjoinsaction", {
        "user_id": np.concatenate([act, others]),
        "partner_invite_code_id": r.choice(code_ids, len(act) + len(others)),
        "action_type": ["userjoins"] * len(act) + ["other"] * len(others)},
      [("user_id", I64), ("partner_invite_code_id", I64), ("action_type", STR)])
    return {t: pq.read_metadata(os.path.join(out, f"{t}.parquet")).num_rows
            for t in REFERENCE_TABLES}


REFERENCE_TABLES = [
    "user_user", "widget_widgetuserapikey", "educator_classroom",
    "educator_classroomlearnermembership", "educator_classroom_educators",
    "educator_classroominvitation", "educator_classroominvitecode", "user_site",
    "user_partner", "user_partnerinvitecode", "action_userjoinsaction",
    "location_location", "location_location_address_components",
    "location_location_types"]


# ---- keyed tables and change batches ----------------------------------------

KEYED = [("id", I64), ("grp", I64), ("status", STR), ("amount", F64),
         ("version", I64)]
CDC = KEYED + [("op", STR), ("seq", I64)]
STATUSES = ["new", "open", "held", "done", "void"]


def _rows(r, keys, version):
    k = len(keys)
    return {"id": np.asarray(keys, dtype=np.int64),
            "grp": r.integers(0, 100, k),
            "status": r.choice(STATUSES, k),
            "amount": np.round(r.uniform(0.0, 10_000.0, k), 2),
            "version": np.full(k, version, dtype=np.int64)}


def changes(out, seed, base_rows, batch_rows, batches):
    """Write the merge and CDC base tables and `batches` change batches
    for each. Returns the last-write-wins replay: the live rows after
    every batch, for both tables.

    Merge batches: unique keys, 80% updates of live keys, 20% new keys;
    the batch row wins. CDC batches: updates, deletes, inserts, keys
    changed twice within the batch, and stale re-deliveries whose
    sequence number is below the key's current one (the guarded fold
    must ignore them). The change with the highest sequence number wins
    per key; a winning delete leaves a tombstone."""
    os.makedirs(out, exist_ok=True)
    p = lambda name: os.path.join(out, f"{name}.parquet")
    r = _rng(seed, 40)

    base = _rows(r, np.arange(base_rows), 0)
    _write(p("merge_base"), base, KEYED)
    merged = {int(k): tuple(base[c][j].item() for c, _ in KEYED[1:])
              for j, k in enumerate(base["id"])}
    merge_states = []
    next_key = base_rows
    for b in range(batches):
        n_new = batch_rows // 5
        keys = np.concatenate([
            r.choice(np.fromiter(merged, dtype=np.int64), batch_rows - n_new, replace=False),
            np.arange(next_key, next_key + n_new)])
        next_key += n_new
        rows = _rows(r, r.permutation(keys), b + 1)
        _write(p(f"merge_b{b}"), rows, KEYED)
        for j, k in enumerate(rows["id"]):
            merged[int(k)] = tuple(rows[c][j].item() for c, _ in KEYED[1:])
        merge_states.append(dict(merged))

    r = _rng(seed, 41)
    cbase = _rows(r, np.arange(base_rows), 0)
    cbase["op"] = np.full(base_rows, "I")
    cbase["seq"] = 1 + np.arange(base_rows)
    _write(p("cdc_base"), cbase, CDC)
    state = {int(k): (int(s), False, tuple(cbase[c][j].item() for c, _ in KEYED[1:]))
             for j, (k, s) in enumerate(zip(cbase["id"], cbase["seq"]))}
    seq = base_rows + 1
    next_key = base_rows
    cdc_states = []
    for b in range(batches):
        known = np.fromiter(state, dtype=np.int64)
        n_upd, n_del, n_twice, n_stale = (int(batch_rows * f) for f in (0.6, 0.1, 0.1, 0.05))
        n_ins = batch_rows - n_upd - n_del - 2 * n_twice - n_stale
        touched = r.choice(known, n_upd + n_del + n_twice + n_stale, replace=False)
        upd, dele, twice, stale = np.split(
            touched, np.cumsum([n_upd, n_del, n_twice]))
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        keys = np.concatenate([upd, dele, twice, twice, ins, stale])
        ops = (["U"] * n_upd + ["D"] * n_del + ["U"] * n_twice
               + list(r.choice(["U", "D"], n_twice)) + ["I"] * n_ins + ["U"] * n_stale)
        seqs = np.concatenate([seq + np.arange(len(keys) - n_stale),
                               [state[int(k)][0] - 1 for k in stale]])
        seq += len(keys) - n_stale
        rows = _rows(r, keys, b + 1)
        rows["op"] = np.array(ops)
        rows["seq"] = seqs.astype(np.int64)
        order = r.permutation(len(keys))
        rows = {c: v[order] for c, v in rows.items()}
        _write(p(f"cdc_b{b}"), rows, CDC)
        winners = {}
        for j, k in enumerate(rows["id"]):
            k, s = int(k), int(rows["seq"][j])
            if k not in winners or s > winners[k][0]:
                winners[k] = (s, rows["op"][j] == "D",
                              tuple(rows[c][j].item() for c, _ in KEYED[1:]))
        for k, w in winners.items():
            cur = state.get(k)
            if cur is None or w[0] > cur[0] or (w[0] == cur[0] and w[1] and not cur[1]):
                state[k] = w
        cdc_states.append({k: v[2] for k, v in state.items() if not v[1]})
    return merge_states, cdc_states
