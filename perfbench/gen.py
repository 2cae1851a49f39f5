"""Seeded input generator for the benchmark.

Every byte depends only on ``(seed, sizes)``: the same seed writes
byte-identical files, another seed writes other keys, row orders, measures
and text with the same row counts. Nothing is read from outside; the value
domains and physical parquet types copy the engine's TPC-H-ish test tables
(TESTDATA.md, FIXTURES.md §6) and the reference's four raw star formats with
their anomaly taxonomy (FIXTURES.md §1-§4).

Each writer returns the *truths* the benchmark checks the engine against:
counts and totals computed here, in Python, from the rows as written.
"""

from __future__ import annotations

import json
import os
import re
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table/file, so resizing one input never
    shifts the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with exactly two decimals (cents drawn as integers)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts_us(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# relational tables (TPC-H-ish, FK-consistent)
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUNS = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def relational_tables(seed: int, out_dir: str, scale: float) -> dict:
    """region nation customer supplier part orders lineitem events at
    ``scale`` (1.0 ⇔ about 6M lineitem rows). Keys are a seeded permutation
    of a dense range and rows are written in shuffled order."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_evt = max(1000, int(1_000_000 * scale))
    n_user = max(15, int(15_000 * scale))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    r = _rng(seed, "customer")
    keys = r.permutation(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    r = _rng(seed, "supplier")
    keys = r.permutation(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")

    r = _rng(seed, "part")
    keys = r.permutation(n_part)
    names = [f"{a} {b}" for a in PART_WORDS for b in PART_NOUNS]
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": r.integers(9000, 10000, n_part) / 10.0,
    }), f"{out_dir}/part.parquet")

    r = _rng(seed, "orders")
    okeys = r.permutation(n_ord)
    # order days span 1995-01-01 .. 2001-08-01 (the template's range)
    odays = r.integers(0, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", odays * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    r = _rng(seed, "lineitem")
    # 1..7 lines per order (mean 4); the multiset is fixed, so the row
    # count is the same for every seed and only the assignment moves
    lines = 1 + r.permutation(n_ord) % 7
    n_li = int(lines.sum())
    owner = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    order = r.permutation(n_li)
    ship = odays[owner] + r.integers(1, 122, n_li)
    li = pa.table({
        "l_orderkey": pa.array(okeys[owner], pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-01", ship * DAY_US),
    })
    _write(li.take(pa.array(order)), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, "events")
    _write(pa.table({
        "event_id": pa.array(r.permutation(n_evt), pa.int64()),
        "ts": _ts_us("2024-01-01", r.integers(0, 30 * DAY_US, n_evt)),
        "user_id": pa.array(r.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
        "value": _money(r, 0.0, 560.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    }), f"{out_dir}/events.parquet")

    return {
        "rows": {
            "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_evt,
        }
    }


# ---------------------------------------------------------------------------
# LLM corpus: documents with planted duplicates, embeddings
# ---------------------------------------------------------------------------

LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EXACT_FRAC = 0.05  # documents that are exact copies (case/blank noise) of another
NEAR_FRAC = 0.10  # documents in near-duplicate pairs
NEAR_EDIT_FRAC = 0.02  # token positions rewritten in the near copy


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return np.array(sorted(words))


def corpus_tables(seed: int, out_dir: str, n_docs: int, n_vectors: int) -> dict:
    """documents + embeddings. EXACT_FRAC of the documents are copies of
    another document that differ only in case and surrounding blanks;
    NEAR_FRAC of them form near-duplicate PAIRS (the copy rewrites
    NEAR_EDIT_FRAC of the token positions). Every planted group is built
    from its own base document, so groups sit far apart from each other."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    vocab = _vocab(r, 4000)
    weights = 1.0 / (np.arange(len(vocab)) + 10.0)  # Zipf-like head
    weights /= weights.sum()

    n_exact = int(n_docs * EXACT_FRAC)
    n_pairs = int(n_docs * NEAR_FRAC) // 2
    n_base = n_docs - n_exact - n_pairs
    base = [
        r.choice(len(vocab), int(r.integers(20, 121)), p=weights)
        for _ in range(n_base)
    ]
    texts = [" ".join(vocab[toks]) for toks in base]
    # near pairs: the first n_pairs base documents each get one near copy
    for i in range(n_pairs):
        toks = base[i].copy()
        k = max(1, int(round(len(toks) * NEAR_EDIT_FRAC)))
        pos = r.choice(len(toks), k, replace=False)
        toks[pos] = (toks[pos] + r.integers(1, len(vocab), k)) % len(vocab)  # always a new token
        texts.append(" ".join(vocab[toks]))
    # exact copies of later base documents (distinct from the near pairs)
    src = n_pairs + r.choice(n_base - n_pairs, n_exact, replace=False)
    for j in src:
        t = texts[j]
        if r.random() < 0.5:
            t = t.upper()
        texts.append(" " * int(r.integers(0, 3)) + t + " " * int(r.integers(0, 3)))

    ids = r.permutation(n_docs)  # ids[i] is the doc_id of text i
    near_pairs = sorted(
        (min(ids[i], ids[n_base + i]), max(ids[i], ids[n_base + i]))
        for i in range(n_pairs)
    )
    groups: dict[int, list[int]] = {}
    for k, j in enumerate(src):
        groups.setdefault(int(j), [int(ids[j])]).append(int(ids[n_base + n_pairs + k]))
    order = r.permutation(n_docs)
    _write(pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_vectors, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    order = r.permutation(n_vectors)  # vec_ids stay the dense range 0..n-1
    _write(pa.table({
        "vec_id": pa.array(order, pa.int64()),
        "embedding": pa.array(
            list(vecs[order].astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(r.integers(0, 10, n_vectors), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    return {
        "rows": {"documents": n_docs, "embeddings": n_vectors},
        "near_pairs": [[int(a), int(b)] for a, b in near_pairs],
        "exact_groups": sorted(sorted(g) for g in groups.values()),
    }


def engine_tables(seed: int, out_dir: str, scale: float, n_docs: int, n_vectors: int) -> dict:
    """All ten tables of the engine's test-table layout, so every query and
    DuckDB oracle resolves its table names."""
    truths = relational_tables(seed, out_dir, scale)
    corpus = corpus_tables(seed, out_dir, n_docs, n_vectors)
    truths["rows"].update(corpus.pop("rows"))
    truths.update(corpus)
    return truths


# ---------------------------------------------------------------------------
# star raw inputs: SFCC CSV, CEGID JSON, product CSVs, boutiques
# ---------------------------------------------------------------------------

STORES = [
    ("PA01", "Epicerie Fine Paris Marais", "12 Rue des Francs Bourgeois, 75003 Paris"),
    ("PA02", "Epicerie Fine Paris Opera", "4 Rue Scribe, 75009 Paris"),
    ("PA03", "Epicerie Fine Paris Rive Gauche", "30 Rue du Bac, 75007 Paris"),
    ("BO01", "Epicerie Fine Bordeaux", "8 Cours de l'Intendance, 33000 Bordeaux"),
    ("BO02", "Epicerie Fine Bordeaux Chartrons", "40 Rue Notre-Dame, 33000 Bordeaux"),
    ("MO01", "Epicerie Fine Montpellier", "8 Place de la Comedie, 34000 Montpellier"),
    ("LY01", "Epicerie Fine Lyon", "22 Rue de la Republique, 69002 Lyon"),
    ("LY02", "Epicerie Fine Lyon Croix-Rousse", "5 Place de la Croix-Rousse, 69004 Lyon"),
    ("MA01", "Epicerie Fine Marseille", "10 Quai du Port, 13002 Marseille"),
    ("LI01", "Epicerie Fine Lille", "3 Rue de la Monnaie, 59000 Lille"),
    ("RE01", "Epicerie Fine Rennes", "6 Place des Lices, 35000 Rennes"),
    ("ST01", "Epicerie Fine Strasbourg", "3 Place Kleber, 67000 Strasbourg"),
    ("CL01", "Epicerie Fine Clermont", "2 Place de Jaude, 63000 Clermont-Ferrand"),
]
REPAIRABLE = {"MO", "CL", "LI", "RE", "ST", "PA", "BO", "LY"}
CATEGORIES = ["vin", "divers", "fromage", "confiserie", "charcuterie", "luxe"]
FIRST = ["Isabelle", "Luc", "Emma", "Nina", "Paul", "Jean", "Claire", "Hugo",
         "Lea", "Louis", "Chloe", "Jules", "Manon", "Arthur", "Camille", "Tom"]
LAST = ["Dupont", "Martin", "Bernard", "Petit", "Leroy", "Moreau", "Simon",
        "Laurent", "Lefebvre", "Michel", "Garcia", "David", "Roux", "Fournier"]
STREETS = ["Rue de Rivoli", "Av de l'Opera", "Rue du Bac", "Rue Cler",
           "Bd Voltaire", "Rue Oberkampf", "Rue de la Paix", "Quai Branly"]
SFCC_HEADER = (
    "sale_id,transaction_date,product_id,customer_id,customer_last_name,"
    "customer_first_name,customer_email,customer_address,customer_phone,"
    "email_optin,sms_optin"
)
CEGID_FILES = 4  # multiline JSON arrays the CEGID records are split across
_EMAIL_DROP = re.compile(r"[^a-zA-Z0-9._%+\-@]+")


def normalize_email(raw: str | None) -> str | None:
    """Python twin of the pipeline's scrub + email normalization."""
    if raw is None:
        return None
    s = re.sub(r"[\t\r\n]+", " ", raw).strip()
    return _EMAIL_DROP.sub("", s).strip().lower()


def _products(r: np.random.Generator) -> tuple[list, list, dict]:
    """Two yearly reference files: 196 ids in 2024, 220 in 2025, 186 shared
    (some with a changed 2025 price — the latest file wins), 10 retired,
    34 new. Returns (rows_2024, rows_2025, survivor price/name maps)."""
    ids = [f"P{v:06d}" for v in r.choice(900_000, 230, replace=False) + 100_000]
    cats = np.array(CATEGORIES)[r.integers(0, 6, 230)]
    names = [f"{c.capitalize()} Selection {i:03d}" for i, c in enumerate(cats)]
    cents = r.integers(300, 9000, 230)
    rows = [[ids[i], names[i], int(cents[i]), str(cats[i])] for i in range(230)]
    y2024 = [list(x) for x in rows[:196]]
    y2025 = [list(x) for x in rows[10:]]
    for row in y2025[:186]:
        if r.random() < 0.1:
            row[2] += int(r.integers(10, 200))
    survivor = {row[0]: (row[1], row[2]) for row in y2024}
    survivor.update({row[0]: (row[1], row[2]) for row in y2025})
    return y2024, y2025, survivor


def _cents_str(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def star_inputs(seed: int, out_dir: str, n_lines: int) -> dict:
    """The pipeline's four raw source families for ``n_lines`` sale lines
    (about 42% online SFCC, 58% CEGID store), with every FIXTURES.md anomaly
    class. Returns the pipeline's path arguments and the truths."""
    r = _rng(seed, "star")
    dirs = {k: os.path.join(out_dir, k) for k in ("salesforces", "cegid", "product", "boutiques")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    y2024, y2025, survivor = _products(r)
    for year, rows in (("2024", y2024), ("2025", y2025)):
        with open(f"{dirs['product']}/{year}_product_reference.csv", "w") as f:
            f.write("product_id,product_name,price,category\n")
            for pid, name, cents, cat in rows:
                f.write(f"{pid},{name},{_cents_str(cents)},{cat}\n")
    with open(f"{dirs['boutiques']}/2025_boutiques.csv", "w") as f:
        f.write("store_id,store_name,address\n")
        for sid, name, addr in STORES:
            f.write(f'{sid}|{name}|"{addr}"\n')
    pids = sorted(survivor)
    price_by_name = {name: cents for name, cents in survivor.values()}
    names = sorted(price_by_name)

    n_clients = max(20, n_lines // 8)
    cf = r.integers(0, len(FIRST), n_clients)
    cl = r.integers(0, len(LAST), n_clients)
    cnum = r.permutation(n_clients) + 1000
    clients = [
        (FIRST[cf[i]], LAST[cl[i]],
         f"{FIRST[cf[i]].lower()}.{LAST[cl[i]].lower()}{cnum[i]}@gmail.com")
        for i in range(n_clients)
    ]

    emails: set[str] = set()
    revenue = {"Online": 0, "Store": 0}  # cents

    # --- SFCC: 12 monthly CSVs ---
    n_sfcc = int(n_lines * 0.42)
    month = np.sort(r.permutation(n_sfcc) % 12 + 1)  # equal months
    sale_nums = r.permutation(n_sfcc) + 10_000
    corrupt_rows = set(r.choice(n_sfcc, max(1, n_sfcc // 200), replace=False).tolist())
    n_quarantine = n_sfcc_clean = 0
    files: dict[int, list[str]] = {m: [] for m in range(1, 13)}
    for i in range(n_sfcc):
        m = int(month[i])
        first, last, email = clients[int(r.integers(0, n_clients))]
        known = r.random() >= 0.005
        # unknown ids sit below the catalog range (P100000..P999999)
        pid = pids[int(r.integers(0, len(pids)))] if known else f"P{int(r.integers(0, 99_999)):06d}"
        addr = f"{int(r.integers(1, 99))} {STREETS[int(r.integers(0, len(STREETS)))]}, 750{int(r.integers(1, 21)):02d} Paris"
        u = r.random()
        phone = "" if u < 0.35 else (f"0{int(r.integers(10**7, 10**8))}" if u < 0.38 else f"0{int(r.integers(6 * 10**8, 8 * 10**8))}")
        raw_email = email
        if r.random() < 0.05:  # case and blank noise, normalized upstream
            raw_email = f" {email.upper()} "
        if r.random() < 0.02:  # embedded tab, scrubbed to a space
            last = f"{last}\t{LAST[int(r.integers(0, len(LAST)))]}"
        opt = ["true", "false", " true", " false"]
        e_opt = opt[int(r.integers(0, 2)) + (2 if r.random() < 0.02 else 0)]
        s_opt = opt[int(r.integers(0, 2))]
        corrupt = i in corrupt_rows  # leading blank before the quoted address
        quoted = f' "{addr}"' if corrupt else f'"{addr}"'
        day = int(r.integers(1, 29))
        files[m].append(
            f"S{sale_nums[i]:07d},2024-{m:02d}-{day:02d},{pid},{int(r.integers(10**6, 10**7))},"
            f"{last},{first},{raw_email},{quoted},{phone},{e_opt},{s_opt}"
        )
        if corrupt:
            n_quarantine += 1
            continue
        n_sfcc_clean += 1
        emails.add(normalize_email(raw_email))
        if pid in survivor:
            revenue["Online"] += survivor[pid][1]
    for m, rows in files.items():
        with open(f"{dirs['salesforces']}/2024{m:02d}_sfcc_sales.csv", "w") as f:
            f.write(SFCC_HEADER + "\n" + "".join(row + "\n" for row in rows))

    # --- CEGID: store sales as several multiline JSON arrays ---
    n_cegid = n_lines - n_sfcc
    store_of = r.integers(0, len(STORES), n_cegid)
    month = r.integers(1, 13, n_cegid)
    seq: dict[tuple[int, int], int] = {}
    recs = []
    for i in range(n_cegid):
        sid = STORES[int(store_of[i])][0]
        m = int(month[i])
        seq[(sid, m)] = seq.get((sid, m), 0) + 1
        sale_id = f"{sid}24{m:02d}{seq[(sid, m)]:05d}"
        if sid[:2] in REPAIRABLE and r.random() < 0.01:
            sale_id = "XX" + sid[:2] + sale_id[4:]
        email = None
        if r.random() < 0.06:
            email = (clients[int(r.integers(0, n_clients))][2] if r.random() < 0.5
                     else f"store.client{int(r.integers(0, n_clients))}@gmail.com")
        qty = int(r.integers(1, 4))
        if r.random() < 0.003:
            name, unit = f"Produit Fantome {int(r.integers(0, 50))}", int(r.integers(300, 900))
        else:
            name = names[int(r.integers(0, len(names)))]
            unit = price_by_name[name]
        price: object = unit * qty / 100
        if float(price).is_integer():
            price = int(price)
        if r.random() < 0.003:
            price = "x"
        recs.append({
            "sale_id": sale_id, "email": email,
            "transaction_date": f"2024-{m:02d}-{int(r.integers(1, 29)):02d}",
            "product_name": name, "quantity": qty, "price": price,
        })
        if email is not None:
            emails.add(normalize_email(email))
        cents = price_by_name.get(name) if price == "x" else unit * qty
        if cents is not None:
            revenue["Store"] += cents
    # duplicate sale ids: later records take an earlier record's id
    for i in r.choice(n_cegid, max(2, n_cegid // 300), replace=False):
        recs[int(i)]["sale_id"] = recs[int(r.integers(0, n_cegid))]["sale_id"]
    order = r.permutation(n_cegid)
    for k, part in enumerate(np.array_split(order, CEGID_FILES)):
        with open(f"{dirs['cegid']}/2024_cegid_sales_{k:02d}.json", "w") as f:
            json.dump([recs[int(i)] for i in part], f, indent=1, ensure_ascii=False)

    emails.discard("")
    emails.discard(None)
    in_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d in dirs.values() for f in os.listdir(d)
    )
    return {
        "paths": {
            "sfcc_glob": f"{dirs['salesforces']}/*_sfcc_sales.csv",
            "cegid_path": f"{dirs['cegid']}/*.json",
            "products_glob": f"{dirs['product']}/*_product_reference.csv",
            "boutiques_path": f"{dirs['boutiques']}/2025_boutiques.csv",
        },
        "truths": {
            "fact_rows": n_sfcc_clean + n_cegid,
            "quarantine_rows": n_quarantine,
            "dim_product": len(survivor),
            "dim_store": len(STORES),
            "dim_client": len(emails),
            "revenue_online": str(Decimal(revenue["Online"]) / 100),
            "revenue_store": str(Decimal(revenue["Store"]) / 100),
            "revenue_total": str(Decimal(revenue["Online"] + revenue["Store"]) / 100),
            "in_bytes": in_bytes,
        },
    }
