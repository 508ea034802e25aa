"""Seeded input generators for the benchmark workloads.

Every input the program sees is written here, before the JVM starts:

* ``catalog_tables``: the star schema plus ``events``, ``documents`` and
  ``embeddings`` tables the query catalog reads, with the column names,
  types and value domains of the project's test data (FIXTURES.md §B).
  The tables come from a fixed internal seed, so the catalog's recorded
  result fingerprints stay valid; ``--seed`` only permutes query order.
* ``store_corpus``: a near-duplicate document/embedding corpus (copies of
  base documents with random text tails) from 20 sources, split into a
  bootstrap slice and per-tick batches; one source drifts and is held by
  the store's gate. Each batch's documents arrive as a file for the
  converter in the FIXTURES.md §A shapes: a ``;``-separated CSV with
  quoted embedded newlines, Cyrillic text and no ``id`` column, or, every
  other tick, a two-sheet ``.xlsx`` workbook. The corpus and its lookup
  pool come from a fixed internal seed, so the recorded lookup results
  stay valid; ``store_schedule`` draws each run's lookups from the pool
  by ``--seed``.
"""
import datetime as dt
import json
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
STORE_SEED = 7
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
SOURCES = [f"src{i}" for i in range(20)]
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64


def _ts(days_from, base):
    return pa.array([base + dt.timedelta(days=int(d)) for d in days_from],
                    type=pa.timestamp("us"))


def _docs(rng, n, dup_share=0.05):
    """Random word texts; a share of them are an earlier text + ' dup'."""
    lens = rng.integers(3, 90, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.array(SOURCES)[ids % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _unit(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32()),
    })


def catalog_tables(out, lineitem=60000, docs=1000, embeddings=1000):
    """Writes the catalog's ten tables under ``out`` (parquet, one file
    each). Row counts scale with ``lineitem`` like the TPC-H-ish schema."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CATALOG_SEED)
    n_ord, n_cust = lineitem // 4, lineitem // 40
    n_part, n_supp = lineitem // 30, max(10, lineitem // 600)
    n_ev = lineitem // 6
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
        f"{out}/nation.parquet")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE",
                                    "BUILDING", "AUTOMOBILE"], n_cust)}),
        f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = ["small", "red", "blue", "large", "green", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "nut", "screw", "panel", "pipe"]
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    d0 = dt.datetime(1995, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": rng.choice(["P", "F", "O"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), d0),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, lineitem), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitem), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitem), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitem).astype(np.float64),
        "l_extendedprice": money(900, 105000, lineitem),
        "l_discount": np.round(rng.integers(0, 11, lineitem) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, lineitem) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], lineitem),
        "l_linestatus": rng.choice(["F", "O"], lineitem),
        "l_shipdate": _ts(rng.integers(1, 2500, lineitem), d0)}),
        f"{out}/lineitem.parquet")
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    e0 = dt.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array([e0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), type=pa.int64()),
        "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], n_ev),
        "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    pq.write_table(pa.table(_docs(rng, docs)), f"{out}/documents.parquet")
    pq.write_table(_emb_table(np.arange(embeddings), _unit(rng, embeddings),
                      rng.integers(0, 10, embeddings)), f"{out}/embeddings.parquet")


# ---- store_ingest_serve ------------------------------------------------

CYR = ["Привет", "мир", "данные", "таблица", "строка", "значение", "отчёт"]
DRIFT_SOURCE = "src19"


def _shaped_docs(rng, n):
    """Base documents: word texts where every 5th carries a Cyrillic word
    and every 7th an embedded newline, so bootstrap and batches share the
    shapes the converter must carry through."""
    d = _docs(rng, n, dup_share=0.0)
    for i in range(n):
        t = d["text"][i]
        if i % 5 == 0:
            t = f"{rng.choice(CYR)} {t}"
        if i % 7 == 0:
            t = t.replace(" ", "\n", 1)
        d["text"][i] = t
    d["n_chars"] = np.array([len(t) for t in d["text"]], dtype=np.int64)
    return d


def _csv_field(s):
    return '"' + s.replace('"', '""') + '"'


def _write_csv(path, cols, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(";".join(cols) + "\n")
        for r in rows:
            f.write(";".join(_csv_field(v) if isinstance(v, str) else str(v) for v in r) + "\n")


def _col_name(i):
    return chr(ord("A") + i)


def _sheet_xml(rows):
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<sheetData>']
    for r, row in enumerate(rows, 1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{_col_name(c)}{r}"
            if isinstance(v, str):
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                             f'{escape(v)}</t></is></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    return "".join(out)


def _write_xlsx(path, sheets):
    """Minimal OOXML workbook with inline-string cells, one part per sheet."""
    ct = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>']
    wb = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>']
    rels = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">']
    def put(z, name, data):
        # a fixed timestamp keeps the workbook's bytes a function of its cells
        z.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data,
                   compress_type=zipfile.ZIP_DEFLATED)

    with zipfile.ZipFile(path, "w") as z:
        for i, (name, rows) in enumerate(sheets, 1):
            ct.append(f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType='
                      '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>')
            wb.append(f'<sheet name="{escape(name)}" sheetId="{i}" r:id="rId{i}"/>')
            rels.append(f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
                        f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>')
            put(z, f"xl/worksheets/sheet{i}.xml", _sheet_xml(rows))
        put(z, "[Content_Types].xml", "".join(ct) + "</Types>")
        put(z, "_rels/.rels",
                   '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                   '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
                   '2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>')
        put(z, "xl/workbook.xml", "".join(wb) + "</sheets></workbook>")
        put(z, "xl/_rels/workbook.xml.rels", "".join(rels) + "</Relationships>")


def _kmeans(rng, x, k, iters=5):
    """Spherical k-means: the IVF model the store bootstrap is given."""
    c = x[rng.choice(len(x), k, replace=False)]
    for _ in range(iters):
        a = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            if np.any(a == j):
                c[j] = x[a == j].mean(0)
        c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c


DOC_COLS = ["doc_id", "text", "source", "n_chars"]


def store_corpus(out, base_docs, ticks, batch_docs, pool_size):
    """Writes the bootstrap slice, ``ticks`` batches and the lookup pool of
    a near-duplicate corpus, from a fixed internal seed (the recorded
    lookup results depend on them). Batch documents are copies of
    base documents with a seeded text tail and a jittered copy of the base
    vector. The drifting source's batch rows carry 480 extra characters of
    length, which the store's gate holds; the manifest records the model
    (which ids each tick should commit) and one sampled record per batch
    that must come through the converter intact."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(STORE_SEED)
    base = _shaped_docs(rng, base_docs)
    bvec = _unit(rng, base_docs)
    pq.write_table(pa.table({c: base[c] for c in DOC_COLS}), f"{out}/boot_docs.parquet")
    pq.write_table(_emb_table(base["doc_id"], bvec, np.zeros(base_docs, dtype=np.int32)),
                   f"{out}/boot_vecs.parquet")
    cents = _kmeans(rng, bvec.astype(np.float64), k=16)
    pq.write_table(pa.table({
        "cid": pa.array(np.arange(len(cents)), type=pa.int64()),
        "cvec": pa.array([c.tolist() for c in cents], type=pa.list_(pa.float64()))}),
        f"{out}/centroids.parquet")
    next_id = base_docs
    batches = []
    for t in range(ticks):
        src = rng.integers(0, base_docs, batch_docs)
        ids = np.arange(next_id, next_id + batch_docs, dtype=np.int64)
        next_id += batch_docs
        tails = [" ".join(rng.choice(WORDS, int(rng.integers(1, 6)))) for _ in src]
        texts = [base["text"][j] + " " + tl for j, tl in zip(src, tails)]
        sources = np.array(SOURCES)[ids % 20]
        n_chars = np.array([len(x) for x in texts], dtype=np.int64)
        drift = sources == DRIFT_SOURCE
        n_chars[drift] += 480
        vecs = bvec[src] + 0.05 * rng.standard_normal((batch_docs, DIM)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        docs = {"doc_id": ids, "text": texts, "source": sources, "n_chars": n_chars}
        pq.write_table(pa.table(docs), f"{out}/batch_{t:03d}_docs.parquet")
        pq.write_table(_emb_table(ids, vecs, np.zeros(batch_docs, dtype=np.int32)),
                       f"{out}/batch_{t:03d}_vecs.parquet")
        rows = [[int(i), x, str(s), int(n)] for i, x, s, n in zip(ids, texts, sources, n_chars)]
        k = int(rng.choice(np.flatnonzero(["\n" in x for x in texts])))
        # the batch arrives as two files: a CSV half and a two-sheet
        # workbook half; each file's sampled record carries an embedded
        # newline and must come through the converter intact
        half = len(rows) // 2
        files = []
        for lo, hi, ext in ((0, half, "csv"), (half, len(rows), "xlsx")):
            path = f"{out}/batch_{t:03d}.{ext}"
            part = rows[lo:hi]
            if ext == "csv":
                _write_csv(path, DOC_COLS, part)
            else:
                q = len(part) // 2
                _write_xlsx(path, [("Sheet1", [DOC_COLS] + part[:q]),
                                   ("Sheet2", [DOC_COLS] + part[q:])])
            j = next(i for i in [*range(k % len(part), len(part)), *range(len(part))]
                     if "\n" in part[i][1])
            files.append({"file": path, "format": ext, "rows": len(part),
                          "bytes": os.path.getsize(path),
                          "sample": {c: str(v) for c, v in zip(DOC_COLS, part[j])}})
        batches.append({"files": files,
                        "admitted": ids[~drift].tolist(), "held": ids[drift].tolist()})
    # the lookup pool: fixed terms and query vectors, so every lookup's
    # result at every tick can be recorded; runs draw from it by seed
    qpool = rng.choice(base_docs, 64, replace=False)
    terms = lambda n: sorted({WORDS[min(int(z), len(WORDS)) - 1] for z in rng.zipf(1.5, n)})
    pool = []
    for j in range(pool_size):
        kind = ("bm25", "batch", "ann")[j % 3]
        pool.append({"kind": kind, "terms": terms(3),
                     "qids": sorted({int(qpool[min(int(z), 64) - 1])
                                     for z in rng.zipf(1.5, 4 if kind == "batch" else 1)})})
    manifest = {"base_docs": base_docs, "batch_docs": batch_docs,
                "drift_source": DRIFT_SOURCE, "batches": batches, "pool": pool}
    with open(f"{out}/manifest.json", "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False)
    return manifest


def store_schedule(path, seed, ticks, lookups_per_tick, pool_size):
    """The run's lookups: per tick, the kinds in a fixed rotation (bm25,
    batch, ann) and, within a kind, a Zipf-skewed draw from that kind's
    pool entries, so some lookups repeat."""
    rng = np.random.default_rng(seed)
    by_kind = [list(range(k, pool_size, 3)) for k in range(3)]
    sched = [[by_kind[j % 3][min(int(rng.zipf(1.5)), len(by_kind[j % 3])) - 1]
              for j in range(lookups_per_tick)] for _ in range(ticks)]
    with open(path, "w") as f:
        json.dump(sched, f)
    return sched
