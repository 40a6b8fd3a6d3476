"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size): the same arguments give
byte-identical parquet files, a different seed gives different ones.

Two families:

- The reference star (FIXTURES.md section A): table_contact,
  table_x_credit_card, x_payment_source and table_address. Every
  `objid` is drawn without replacement from the reference's JDBC
  partition bounds [100009, 999995], so a range-partitioned scan on
  `objid` stripes evenly. Filter columns are drawn so the reference's
  four predicates keep roughly 40% (x_cust_id range), 60% (three of
  five card types), 70% (x_status = 'Active') and 20% (eleven of
  fifty-five state codes) of each source.
- The catalog tables (FIXTURES.md section B): region, nation, customer,
  supplier, part, orders, lineitem, events, documents and embeddings,
  with the fixture's column types and value vocabularies.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

OBJID_LO, OBJID_HI = 100009, 999995
KEPT_STATES = ["MI", "MN", "MO", "MP", "MS", "MT", "NC", "ND", "NE", "NH", "NJ"]
OTHER_STATES = [
    "AK", "AL", "AR", "AS", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
    "GU", "HI", "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME",
    "NM", "NV", "NY", "OH", "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN",
    "TX", "UT", "VA", "VI", "VT", "WA", "WI", "WV"]
CC_TYPES = ["American Express", "Discover", "Mastercard", "Visa", "Diners Club"]
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]


def _rngs(seed, n):
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


def _write(table, path):
    # one row group, no statistics that depend on anything but the data
    pq.write_table(table, path, compression="snappy")


def _objids(rng, n):
    return np.sort(rng.choice(np.arange(OBJID_LO, OBJID_HI + 1, dtype=np.int64),
                              size=n, replace=False))


def _strs(fmt, xs):
    return pa.array([fmt % x for x in xs.tolist()], pa.string())


def star_tables(seed, payments):
    """The four reference sources for `payments` payment rows."""
    r_contact, r_card, r_pay, r_addr = _rngs(seed, 4)
    n_contact, n_card, n_addr = payments // 3, payments // 2, payments // 4

    c_id = _objids(r_contact, n_contact)
    ci = np.arange(n_contact)
    contact = pa.table({
        "objid": c_id,
        "x_cust_id": r_contact.integers(1, 1_000_001, n_contact, dtype=np.int64),
        "first_name": _strs("First%d", ci),
        "last_name": _strs("Last%d", r_contact.integers(0, 5000, n_contact)),
        "phone": _strs("555-%07d", r_contact.integers(0, 10**7, n_contact)),
        "e_mail": _strs("u%d@example.com", ci),
        "country": pa.array(["US"] * n_contact, pa.string()),
    })

    a_id = _objids(r_addr, n_addr)
    states = np.array(KEPT_STATES + OTHER_STATES)
    address = pa.table({
        "objid": a_id,
        "address": _strs("%d Main St", r_addr.integers(1, 10000, n_addr)),
        "city": _strs("City%d", r_addr.integers(0, 2000, n_addr)),
        "state": pa.array(states[r_addr.integers(0, len(states), n_addr)].tolist(),
                          pa.string()),
        "zipcode": _strs("%05d", r_addr.integers(0, 100000, n_addr)),
    })

    k_id = _objids(r_card, n_card)
    card = pa.table({
        "objid": k_id,
        "x_credit_card2contact": c_id[r_card.integers(0, n_contact, n_card)],
        "x_credit_card2address": a_id[r_card.integers(0, n_addr, n_card)],
        "x_customer_cc_number": _strs("4%015d", r_card.integers(0, 10**15, n_card)),
        "x_customer_cc_expmo": _strs("%02d", r_card.integers(1, 13, n_card)),
        "x_customer_cc_expyr": _strs("%d", r_card.integers(2026, 2031, n_card)),
        "x_cc_type": pa.array(
            np.array(CC_TYPES)[r_card.integers(0, len(CC_TYPES), n_card)].tolist(),
            pa.string()),
    })

    p_id = _objids(r_pay, payments)
    active = r_pay.random(payments) < 0.7
    pay = pa.table({
        "objid": p_id,
        "pymt_src2x_credit_card": k_id[r_pay.integers(0, n_card, payments)],
        "x_pymt_type": pa.array(np.array(["CARD", "ACH", "WALLET"])[
            r_pay.integers(0, 3, payments)].tolist(), pa.string()),
        "x_pymt_src_name": _strs("src%d", r_pay.integers(0, 10**6, payments)),
        "x_sourcesystem": pa.array(np.array(["LEGACY", "CRM", "WEB"])[
            r_pay.integers(0, 3, payments)].tolist(), pa.string()),
        "x_status": pa.array(np.where(active, "Active", "Inactive").tolist(),
                             pa.string()),
    })
    return {"table_contact": contact, "table_x_credit_card": card,
            "x_payment_source": pay, "table_address": address}


def gen_star(out_dir, seed, payments):
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, payments)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, name + ".parquet"))
        # headerless CSV twin for the database bulk loader
        pacsv.write_csv(t, os.path.join(out_dir, name + ".csv"),
                        pacsv.WriteOptions(include_header=False))
    return {n: t.num_rows for n, t in tables.items()}


# ---------------------------------------------------------------- catalog

WORDS = ("the data spark table column row key value join hash scan filter "
         "window order line part batch stream agg fast slow small large index "
         "query merge sort group count sum event user time plan cost cache "
         "file block page").split()
LANGS = ["en"] * 6 + ["de", "es", "fr", "zh"]


def _dates(rng, n, start, days, unit):
    base = np.datetime64(start, unit)
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[%s]" % unit)


def catalog_tables(seed, scale):
    """TPC-H-shaped catalog inputs; `scale` 1.0 is the sf0.01 fixture size."""
    rs = _rngs(seed, 10)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), int(500 * scale), int(500 * scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rs[0]
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _strs("Customer#%09d", ck),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            r.integers(0, 5, n_cust)].tolist(), pa.string())})

    r = rs[1]
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _strs("Supplier#%09d", sk),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})

    r = rs[2]
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring"]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(["%s %s" % (adj[a], noun[b]) for a, b in zip(
            r.integers(0, 8, n_part).tolist(), r.integers(0, 8, n_part).tolist())],
            pa.string()),
        "p_brand": _strs("Brand#%d", r.integers(1, 26, n_part)),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            r.integers(0, 6, n_part)].tolist(), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    r = rs[3]
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _dates(r, n_ord, "1995-01-01", 2404, "us")
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            r.integers(0, 3, n_ord)].tolist(), pa.string()),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_ord)].tolist(), pa.string())})

    r = rs[4]
    # lines per order 1..7 until n_line rows; (l_orderkey, l_linenumber)
    # is unique like the fixture
    per = r.integers(1, 8, n_ord)
    per = per[: np.searchsorted(np.cumsum(per), n_line) + 1]
    lok = np.repeat(np.arange(len(per), dtype=np.int64), per)[:n_line]
    lno = np.concatenate([np.arange(1, p + 1) for p in per])[:n_line]
    n_line = len(lok)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, n_line)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            r.integers(0, 2, n_line)].tolist(), pa.string()),
        "l_shipdate": pa.array(odate[lok] + r.integers(1, 122, n_line).astype(
            "timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us"))})

    r = rs[5]
    ts = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, max(2, n_ev // 66), n_ev, dtype=np.int64),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)].tolist(), pa.string()),
        "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
        "props": _strs('{"k": %d}', r.integers(0, 100, n_ev))})

    r = rs[6]
    docs = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.25:
            # near-duplicate of an earlier doc: one or two word edits
            words = docs[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 3))):
                words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(8, 90)))]
        docs.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n_doc)].tolist(),
                         pa.string()),
        "source": _strs("src%d", r.integers(0, 20, n_doc)),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})

    r = rs[7]
    vecs = (r.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return out


def gen_catalog(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    tables = catalog_tables(seed, scale)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, name + ".parquet"))
    return {n: t.num_rows for n, t in tables.items()}
