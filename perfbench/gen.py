"""Seeded base tables for the benchmark.

Writes the ten fixture tables the program reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, physical types and value domains of the
repository's sf0.01 test fixtures. Sizes are fixed; the seed only permutes
identities and values, so every seed does comparable work.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import decimal
import os
import sys

import numpy as np
import pandas as pd

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "gear", "bolt",
             "anvil"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "table", "data", "agg", "value", "key", "stream", "window", "a",
             "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables(seed):
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_l = SIZES["orders"], SIZES["lineitem"]
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_c)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)})
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_p),
                                               rng.choice(PART_NOUN, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": rng.integers(1, 51, n_p).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _days(rng, n_o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_o)})
    lflag = rng.integers(0, 6, n_l)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l).astype("int64"),
        "l_partkey": rng.integers(0, n_p, n_l).astype("int64"),
        "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_l).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[lflag // 2],
        "l_linestatus": np.array(["O", "F"])[lflag % 2],
        "l_shipdate": _days(rng, n_l, "1995-01-02", 2498)})
    n_e = SIZES["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n_e))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_e, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us")
        + (secs * 1e6).astype("int64").astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_e).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": np.round(rng.uniform(0.01, 490.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    n_d = SIZES["documents"]
    texts = [" ".join(rng.choice(DOC_WORDS, k))
             for k in rng.integers(10, 100, n_d)]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_d, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_d),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    n_v = SIZES["embeddings"]
    vecs = rng.normal(size=(n_v, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_v, dtype="int64"),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_v).astype("int32")})
    return out


def write(out_dir, seed, workload=None):
    """Write the base tables, and the workload's derived inputs (if it
    has any) under `<out_dir>/<workload>/`."""
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    base = tables(seed)
    for name, df in base.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    derive = {"monthly_batch": monthly_inputs,
              "curation": curation_inputs}.get(workload)
    if derive:
        sub = os.path.join(out_dir, workload)
        os.makedirs(sub, exist_ok=True)
        for name, tbl in derive(base, seed).items():
            pq.write_table(tbl, os.path.join(sub, f"{name}.parquet"))


# ---- monthly_batch inputs -------------------------------------------------

CLIENTS = {"AA": 2, "BB": 3, "CC": 4, "DD": 5, "MC": 6}
N_MERCHANTS = 400
MONTH_TXNS = 3000


def _sha1_fingerprint(parts):
    """`Ops.fingerprint`: sha1 over '|'-joined UPPER(TRIM(ISNULL(x,'')))."""
    import hashlib
    canon = "|".join((p or "").strip(" ").upper() for p in parts)
    return hashlib.sha1(canon.encode("utf-8")).hexdigest()


def monthly_inputs(t, seed):
    """The tables of one `Monthly.Inputs` for February 2025, derived from
    the orders/customer/lineitem/nation/region fixtures. 3,000 orders
    become POS transactions (a tenth of those are January rows that arrive
    already mapped); the seed picks which, and each transaction's
    merchant, day and travel territory, and each customer's patron and
    unique-patron path, so every pass of the batch maps rows:
      patrons   natural (known), natural (inserted this run), synthesized;
      unique    employee key, card key (new or known), catch-all proxy;
      merchants fingerprinted, new and eligible, new and ineligible."""
    import datetime
    import decimal
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    cust, orders, line = t["customer"], t["orders"], t["lineitem"]
    nation, region = t["nation"], t["region"]
    n_c = len(cust)
    ck = cust["c_custkey"].to_numpy()
    codes = np.array(list(CLIENTS))
    clientcode = codes[rng.integers(0, len(codes), n_c)]
    client_id = np.array([CLIENTS[c] for c in clientcode], dtype="int64")
    card = [f"4{x:011d}{k:04d}" for x, k in
            zip(rng.integers(0, 10**11, n_c), ck)]
    zip5 = [f"{10000 + n * 100 + z:05d}" for n, z in
            zip(cust["c_nationkey"], rng.integers(0, 50, n_c))]
    ptype = rng.integers(0, 4, n_c)   # 0 card-only, 1-2 known, 3 new
    utype = rng.integers(0, 5, n_c)   # 0 employee, 1-2 card, 3-4 proxy
    unew = rng.integers(0, 2, n_c)
    high = np.where(rng.integers(0, 7, n_c) == 0, 0, 1).astype("int32")
    natural = [f"P{k}" if p else None for k, p in zip(ck, ptype)]
    employee = [f"E{k}" if u == 0 else None for k, u in zip(ck, utype)]
    uproxy = [f"U{k}" if u >= 3 else None for k, u in zip(ck, utype)]
    ukey = [f"{cc}_{e}_{cd}" if u == 0 else
            f"{cc}_{cd[-4:]}" if u <= 2 else up
            for cc, e, cd, u, up in zip(clientcode, employee, card, utype,
                                        uproxy)]
    unique_new = (utype == 1) | ((utype == 0) & (unew == 0))

    mid = np.arange(N_MERCHANTS)
    merch = pd.DataFrame({
        "MerchantNumber": [f"M{m:04d}" for m in mid],
        "MerchantLegalName": [f"LEGAL {m}" for m in mid],
        "MerchantName": [f"NAME {m}" for m in mid],
        "AddressLine01": [f"{m} MAIN ST" for m in mid],
        "CityName": [f"CITY{c}" for c in rng.integers(0, 25, len(mid))],
        "StateProvince": "ST",
        "PostalCode": [f"{p:05d}" for p in rng.integers(0, 90000, len(mid))],
        "CountryCode": np.where(rng.integers(0, 9, len(mid)) == 0, "DE",
                                "US"),
        "MccCode": np.where(rng.integers(0, 11, len(mid)) == 0, "5999",
                            "5812")})
    known = rng.integers(0, 3, len(mid)) != 0
    parts = ["MerchantNumber", "MerchantLegalName", "MerchantName",
             "AddressLine01", "CityName", "StateProvince", "PostalCode",
             "CountryCode"]
    fp_ids = rng.permutation(int(known.sum())) + 1
    kmid = mid[known]
    dim_fp = {
        "FingerprintID": fp_ids.astype("int64"),
        "SimHash": [_sha1_fingerprint(merch.loc[m, parts]) for m in kmid],
        "MerchantLegalName": merch["MerchantLegalName"][known].tolist(),
        "MerchantName": merch["MerchantName"][known].tolist(),
        "AddressLine01": merch["AddressLine01"][known].tolist(),
        "SFRestaurantKey": (kmid + 100).astype("int64")}

    # transactions: 3,000 seed-chosen orders; amount = exact line sum
    pick = np.sort(rng.choice(len(orders), MONTH_TXNS, replace=False))
    o = orders.iloc[pick].reset_index(drop=True)
    n = len(o)
    cents = (line["l_extendedprice"] * 100).round().astype("int64")
    lsum = cents.groupby(line["l_orderkey"]).sum()
    amount_c = o["o_orderkey"].map(lsum)
    amount_c = amount_c.fillna((o["o_totalprice"] * 100).round()).astype(
        "int64")
    amount = [decimal.Decimal(int(c)).scaleb(-2).quantize(
        decimal.Decimal("0.0001")) for c in amount_c]
    ci = o["o_custkey"].to_numpy()  # custkey == row index
    m = rng.integers(0, N_MERCHANTS, n)
    hist = rng.integers(0, 10, n) == 0
    day = rng.integers(1, 29, n)
    date = [datetime.date(2025, 1 if h else 2, int(d))
            for h, d in zip(hist, day)]
    datekey = np.array([x.year * 10000 + x.month * 100 + x.day
                        for x in date], dtype="int64")
    th = o["o_orderkey"].to_numpy() + 1
    dv = o["o_orderkey"].to_numpy() + 2000001
    nat = cust["c_nationkey"].to_numpy()[ci]
    geo = np.where(rng.integers(0, 5, n) == 0, rng.integers(0, 25, n),
                   nat).astype("int32") + 1
    rev = rng.integers(0, 5, n) == 0
    legal = merch["MerchantLegalName"].to_numpy()[m]
    take = lambda xs: [xs[i] for i in ci]  # noqa: E731
    S, L, I32 = pa.string(), pa.int64(), pa.int32()

    def tbl(cols):
        return pa.table({k: pa.array(v, type=ty) for k, (v, ty) in
                         cols.items()})

    out = {}
    out["header"] = tbl({
        "id": (th, L), "transactionid": ([str(x) for x in th], S),
        "MerchantNumber": (merch["MerchantNumber"].to_numpy()[m], S),
        "MerchantLegalName": (np.where(rev, np.char.add("REV:", legal.astype(
            str)), legal), S),
        **{c: (merch[c].to_numpy()[m], S) for c in parts[2:]},
        "clientcode": (take(clientcode), S),
        "MccCode": (merch["MccCode"].to_numpy()[m], S),
        "TransactionDate": (date, pa.date32()),
        "proxyid": (take(natural), S),
        "cardmemberbillingzipcode": ([z + "-0042" for z in take(zip5)], S),
        "cardmembercountrycode": (["840"] * n, S),
        "creditcardnum": (take(card), S)})
    out["detail"] = tbl({"id": (dv, L),
                         "transactionid": ([str(x) for x in th], S),
                         "txndate": (date, pa.date32())})
    out["fact"] = tbl({
        "TH_ID": (th, L), "DVHD_ID": (dv, L), "DateKey": (datekey, L),
        "Patron_ID": (np.where(hist, 1000, 1), L),
        "UniquePatronId": (np.where(hist, 1, 0), L),
        "GeographyID": (geo, I32),
        "Amount": (amount, pa.decimal128(18, 4)),
        "FingerprintID": ([1 if h else None for h in hist], L),
        "SFRestaurantKey": (np.where(hist, 100, 1), L)})
    out["txnProxy"] = tbl({
        "TH_ID": (th, L),
        "proxyid": ([p or "none" for p in take(natural)], S),
        "ClientID": (client_id[ci], L), "creditcardnum": (take(card), S)})
    out["txnKeys"] = tbl({
        "DVHD_ID": (dv, L), "clientcode": (take(clientcode), S),
        "employeeid": (take(employee), S), "creditcardnum": (take(card), S),
        "proxyid": ([p or "none" for p in take(uproxy)], S)})
    known_p = [(natural[i]) for i in range(n_c) if ptype[i] in (1, 2)] + [
        f"{client_id[i]}_{card[i][-4:]}" for i in range(n_c) if ptype[i] == 0]
    out["dimPatron"] = tbl({
        "ID": (rng.permutation(len(known_p)) + 1001, L),
        "ProxyID": (known_p, S)})
    ku = np.flatnonzero(~unique_new)
    out["dimUniquePatron"] = tbl({
        "UniquePatronId": (rng.permutation(len(ku)) + 1, L),
        "ProxyID": ([ukey[i] for i in ku], S),
        "IsHighValue": (high[ku], I32)})
    cand = np.flatnonzero(utype <= 2)
    out["candidates"] = tbl({
        "ProxyID": ([ukey[i] for i in cand], S),
        "IsHighValue": (high[cand], I32),
        "UniquePatronId": ([None] * len(cand), L)})
    out["dimZipGeo"] = tbl({
        "ZipCode": ([f"{10000 + k * 100 + z:05d}" for k in range(25)
                     for z in range(50)], S),
        "GeographyID": ([k + 1 for k in range(25) for _ in range(50)], I32)})
    out["dimClient"] = tbl({"clientcode": (list(CLIENTS), S),
                            "ClientID": (list(CLIENTS.values()), L)})
    rname = dict(zip(region["r_regionkey"], region["r_name"]))
    out["dimTerritory"] = tbl({
        "GeographyID": ((nation["n_nationkey"] + 1).to_numpy(), I32),
        "SalesTerritory": ([rname[r] for r in nation["n_regionkey"]], S),
        "DIN_DisplayMiniMarketName": (nation["n_name"].tolist(), S)})
    out["dimFingerprint"] = tbl({
        k: (v, S if k in ("SimHash", "MerchantLegalName", "MerchantName",
                          "AddressLine01") else L)
        for k, v in dim_fp.items()})
    live = ~hist
    pp = np.array(["synthesized", "natural", "natural", "natural_new"])
    up = np.array(["employee", "card", "card", "catch_all", "catch_all"])
    out["labels"] = tbl({"TH_ID": (th[live], L),
                         "patron_pass": (pp[ptype[ci]][live], S),
                         "unique_pass": (up[utype[ci]][live], S)})
    return out


# ---- curation inputs ------------------------------------------------------

EVAL_BANK = ["zircon", "obsidian", "feldspar", "malachite", "tourmaline",
             "beryl", "cinnabar", "galena", "pyrite", "hematite", "jadeite",
             "kyanite", "lazurite", "magnetite", "olivine", "peridot",
             "rhodonite", "sodalite", "topaz", "variscite"]
FOOTERS = [
    "Subscribe to the weekly digest for more stories like this one.",
    "All rights reserved by the original publisher of this article.",
    "Share this page with your friends and colleagues right now.",
    "Read the full archive of past issues on our main website."]


def _cap(text):
    return text[:1].upper() + text[1:]


def _sentences(text):
    """Nine-word sentence lines (groups under five words are dropped)."""
    ws = text.split(" ")
    return "\n".join(_cap(" ".join(ws[i:i + 9])) + "."
                     for i in range(0, len(ws), 9) if len(ws[i:i + 9]) >= 5)


def curation_inputs(t, seed):
    """`Curation.run`'s inputs, derived from the documents/embeddings
    fixtures. The fixture documents are single unpunctuated lines, which
    the C4 rules drop whole, so the corpus re-cuts 400 of them into
    sentence lines and plants, on seed-chosen documents, one defect per
    stage: raw (unpunctuated) documents, exact and near copies, semantic
    twins of a history index, boilerplate footers and footer-only
    documents, eval-set copies and paraphrases, and spam the classifier
    knows. Sizes and planted counts are fixed; the seed picks ids,
    documents and words. The history index's IVF assignment and the
    eval set's BM25 index are built from these by the program itself
    (perfbench/scala/perfbench/CurationRun.scala)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    docs_t, emb_t = t["documents"], t["embeddings"]
    text, src = docs_t["text"].tolist(), docs_t["source"].tolist()
    vecs = np.stack(emb_t["embedding"].to_numpy())
    n = 400
    ids = np.empty(n, dtype="int64")
    ids[rng.permutation(n)] = np.arange(1, n + 1)
    roles = rng.permutation(n)
    raw, exact, near, sem, footer = (set(roles[a:b].tolist()) for a, b in
                                     [(0, 6), (6, 12), (12, 18), (18, 24),
                                      (24, 44)])
    hist = vecs[400:500]
    body, rows, emb = {}, [], []
    for b in range(n):
        body[b] = (text[b] if b in raw else
                   _sentences(text[b]) + "\n" + FOOTERS[b % len(FOOTERS)]
                   if b in footer else _sentences(text[b]))
        rows.append((int(ids[b]), body[b], src[b]))
        v = (hist[rng.integers(0, len(hist))]
             + rng.normal(0, 0.005, hist.shape[1]) if b in sem else vecs[b])
        emb.append((int(ids[b]), v.astype("float32")))
    planted = []
    for b in sorted(exact):
        planted.append((body[b], src[b]))
    for b in sorted(near):
        ws = body[b].split(" ")
        i = len(ws) // 2
        ws[i] = "swapped." if ws[i].endswith(".") else "swapped"
        planted.append((" ".join(ws), src[b]))
    # footer-only documents: their one line already appeared in a
    # lower-id document, so line dedup leaves them empty
    planted += [(f, "src0") for f in FOOTERS]
    evals = [_cap(" ".join(rng.permutation(EVAL_BANK)[:12])) + "."
             for _ in range(3)]
    # verbatim eval copies (overlap gate) and reordered paraphrases with
    # no intact 5-gram (retrieval gate)
    for k in range(4):
        b = int(roles[44 + k])
        planted.append((_sentences(text[b]) + "\n" + evals[k % 3], src[b]))
    for k in range(4):
        ws = evals[k % 3][:-1].split(" ")
        para = [ws[(i * 5) % len(ws)] for i in range(len(ws))]
        planted.append((_cap(" ".join(para)) + ".", f"src{k + 1}"))
    # spam: ordinary sentences carrying the classifier's negative term
    for k in range(8):
        b = int(roles[52 + k])
        ws = text[b].split(" ")[:40]
        planted.append((_sentences(" ".join(
            " ".join(ws[i:i + 4] + ["spamword"])
            for i in range(0, len(ws), 4))), src[b]))
    rows += [(1000 + i, x, y) for i, (x, y) in enumerate(planted)]

    S, L = pa.string(), pa.int64()
    F = pa.list_(pa.float32())

    def vec_table(id_name, id_vals, vec_name, vs):
        return pa.table({id_name: pa.array(id_vals, type=L),
                         vec_name: pa.array([v.tolist() for v in vs],
                                            type=F)})
    return {
        "docs": pa.table({"doc_id": pa.array([r[0] for r in rows], type=L),
                          "text": pa.array([r[1] for r in rows], type=S),
                          "source": pa.array([r[2] for r in rows], type=S)}),
        "eval": pa.table({"doc_id": pa.array(range(9000, 9003), type=L),
                          "text": pa.array(evals, type=S)}),
        "emb": vec_table("doc_id", [e[0] for e in emb], "embedding",
                         [e[1] for e in emb]),
        "cents": vec_table("centroid_id", range(8), "cvec", hist[:8]),
        "hist": vec_table("doc_id", range(5000, 5100), "embedding", hist),
        "cls": pa.table({"term": pa.array(["spamword"], type=S),
                         "weight": pa.array([decimal.Decimal("-5.0")],
                                            type=pa.decimal128(38, 18))}),
        "target": pa.table({
            "doc_id": pa.array(docs_t["doc_id"][400:450], type=L),
            "text": pa.array([_sentences(x) for x in text[400:450]],
                             type=S)})}


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), *sys.argv[3:4])
