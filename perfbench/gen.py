"""Seeded input generator for the benchmark.

EP1 raw drops: Avito and Jumia as NDJSON, Electroplanet as one JSON array,
the shapes the marketeye scrapers ship. Prices use the F1/F2 formats the
engine's parsers handle ("8.500,00", "13,875 MAD", "9 490 DH") plus the
sentinel prices '', 'NULL' and 'INCONNU'. Malformed lines are planted at a
fixed rate into the NDJSON files. Alongside the files the generator writes
meta.json: lines and bytes per file, the planted malformed count, and the
values the pipeline must produce that follow from the drop alone (surviving
offers and their price statistics), computed here independently of the
engine.

Curation corpora: a `documents` table with the catalog's shape (word salad
over the catalog's 31-word vocabulary, 10..100 tokens, planted exact and
near duplicates of the previous document).

The same (workload, seed) always gives byte-identical files.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import re
import sys

# Workload parameters. `products` is the catalog width, `listings` the
# number of distinct (source, url) offers per product (uniform in the
# range), `rescrapes` how often each listing is seen in the drop, and
# `flooded` the number of product ids that carry `flood_share` of all
# listings between them.
EP1 = {
    "ep1_staged_rescrape": dict(products=600, listings=(2, 8), rescrapes=(5, 9),
                                flooded=3, flood_share=0.15),
}
CURATION = {"curation_neardup": dict(docs=5000)}

MALFORMED_RATE = 0.01      # share of NDJSON lines that are planted garbage
SENTINEL_RATE = 0.03       # share of offers whose price is a sentinel
OUTLIER_RATE = 0.02        # share of listings priced far off their product
SOURCE_SHARE = (("Avito", 0.45), ("Jumia", 0.35), ("Electroplanet", 0.20))

BRANDS = ["Samsung", "Apple", "Xiaomi", "Huawei", "Oppo", "Realme", "Vivo",
          "OnePlus", "Google", "Nokia", "Sony", "Tecno", "Infinix", "Motorola"]
SERIES = ["A", "S", "Note", "X", "Y", "Z", "M", "G", "P", "C", "V", "K"]
CITIES = ["Casablanca", "Rabat", "Marrakech", "Fes", "Tanger", "Agadir"]
CONDITIONS = ["Neuf", "Comme neuf", "Bon etat", "Reconditionne", "Moyen", None]
SENTINELS = ["", "NULL", "INCONNU"]


# ---------------------------------------------------------------- parsers
# Python twins of the engine's price parsers (F1 clean_price, F2 the
# European-format fix). They exist only so the generator can state the
# expected statistics without running the engine.

def _first_number(s):
    m = re.search(r"[0-9]+\.?[0-9]*", s)
    return float(m.group(0)) if m else 0.0


def clean_price(raw):
    if raw is None:
        return 0.0
    s = re.sub(r"[^0-9,.]", "", raw).replace(",", ".")
    return _first_number(s)


def extract_price_fixed(raw):
    if raw is None:
        return 0.0
    s = re.sub(r"[^0-9,.]", "", raw)
    if "," in s and "." in s:
        s = s.replace(".", "").replace(",", ".")
    elif "," in s:
        s = s.replace(",", "")
    return _first_number(s)


# ------------------------------------------------------------ formatting

def _group(n, sep):
    s = str(n)
    out = []
    while len(s) > 3:
        out.insert(0, s[-3:])
        s = s[:-3]
    out.insert(0, s)
    return sep.join(out)


def fmt_price(rng, source, value):
    """Render an integer price in one of the formats scrapes carry."""
    if source == "Avito":
        k = rng.randrange(4)
        if k == 0:
            return _group(value, ".") + ",00"          # 8.500,00
        if k == 1:
            return _group(value, " ") + " DH"          # 9 490 DH
        if k == 2:
            return _group(value, ",")                  # 4,500
        return str(value)
    if source == "Jumia":
        k = rng.randrange(3)
        if k == 0:
            return _group(value, ",") + " MAD"         # 13,875 MAD
        if k == 1:
            return _group(value, " ") + " Dhs"
        return str(value) + " Dhs"
    k = rng.randrange(2)
    if k == 0:
        return _group(value, " ") + ",00 DH"           # 2 499,00 DH
    return _group(value, " ") + " DH"


def parse(source, raw):
    return extract_price_fixed(raw) if source == "Avito" else clean_price(raw)


def ts(day_offset_min):
    h, m = divmod(day_offset_min, 60)
    d, h = divmod(h, 24)
    return f"2026-01-{15 - d:02d}T{h:02d}:{m:02d}:00"


# ------------------------------------------------------------------- EP1

def make_catalog(rng, n):
    seen, cat = set(), []
    while len(cat) < n:
        b = rng.choice(BRANDS)
        model = f"{rng.choice(SERIES)}{rng.randrange(1, 4000)}"
        if (b, model) in seen:
            continue
        seen.add((b, model))
        storage = rng.choice([64, 128, 256, 512])
        cat.append(dict(brand=b, model=model, storage=storage,
                        ram=rng.choice([4, 6, 8, 12]),
                        base=rng.randrange(800, 16000)))
    return cat


def avito_row(rng, p, ad_id, raw_price, when):
    brand = p["brand"] if rng.random() < 0.8 else rng.choice(["", "NULL", None])
    return {
        "ad_id": str(ad_id),
        "title": f"{p['brand']} {p['model']} {p['storage']}Go",
        "description": f"Telephone {p['brand']} {p['model']} en vente",
        "price": raw_price,
        "city": rng.choice(CITIES), "area": None,
        "seller_type": rng.choice(["PRIVATE", "PRO", None]),
        "seller_name": f"vendeur{rng.randrange(5000)}",
        "category": "Telephones",
        "url": f"https://www.avito.ma/fr/{CITIES[ad_id % len(CITIES)].lower()}/telephones/{ad_id}.htm",
        "list_time": when,
        "brand": brand,
        "model": p["model"] if rng.random() < 0.7 else None,
        "storage": f"{p['storage']} Go", "ram": f"{p['ram']} Go",
        "battery_health": rng.choice(["95%", "88%", "NULL", None]),
        "color": rng.choice(["Noir", "Bleu", "Blanc", "nan"]),
        "condition": rng.choice(CONDITIONS),
    }


def jumia_row(rng, p, lid, raw_price, when):
    return {
        "title": f"{p['brand']} {p['model']} - {p['ram']}Go RAM - {p['storage']}Go",
        "brand": p["brand"],
        "price": raw_price,
        "old_price": rng.choice([None, f"{p['base'] + 500} Dhs"]),
        "rating": rng.choice(["4.2 out of 5", "3.8 out of 5", None]),
        "reviews_count_text": rng.choice(["(12)", "(3)", None]),
        "product_url": f"https://www.jumia.ma/{p['brand'].lower()}-{p['model'].lower()}-{lid}.html",
        "scraped_at": when,
        "description": f"Smartphone {p['brand']} {p['model']} {p['storage']}Go",
        "specs": {"Stockage": f"{p['storage']} Go", "RAM": f"{p['ram']} Go"},
    }


def electro_row(rng, p, lid, raw_price, when):
    return {
        "product_url": f"https://www.electroplanet.ma/smartphone-{p['brand'].lower()}-{p['model'].lower()}-{lid}",
        "name": f"Smartphone {p['brand']} {p['model']} {p['storage']}Go",
        "brand": p["brand"].upper(),
        "price": raw_price,
        "old_price": None,
        "is_promotion": rng.random() < 0.2,
        "category": "Smartphones",
        "store": "Electroplanet",
        "scraped_at": when,
        "detailed_scraped_at": None,
        "description": f"{p['brand']} {p['model']}",
        "specifications": {"Marque": p["brand"], "Modèle": p["model"],
                           "Capacité de stockage interne": f"{p['storage']} Go",
                           "Capacité de la RAM": f"{p['ram']} Go"},
        "reviews_summary": {"average_rating": rng.choice(["20", "80", None]),
                            "total_reviews": rng.randrange(0, 40)},
        "availability": "En stock",
        "view_count": rng.randrange(0, 900),
        "sku": f"EP{lid}",
    }


TIME_FIELD = {"Avito": "list_time", "Jumia": "scraped_at", "Electroplanet": "scraped_at"}
ROW = {"Avito": avito_row, "Jumia": jumia_row, "Electroplanet": electro_row}
FILES = {"Avito": "avito_ads.json", "Jumia": "jumia_phones.json",
         "Electroplanet": "electroplanet_phones.json"}


def pick_source(rng):
    x, acc = rng.random(), 0.0
    for s, share in SOURCE_SHARE:
        acc += share
        if x < acc:
            return s
    return SOURCE_SHARE[-1][0]


def gen_ep1(workload, seed, out):
    cfg = EP1[workload]
    rng = random.Random(f"{workload}:{seed}")
    cat = make_catalog(rng, cfg["products"])
    rows = {s: [] for s in FILES}
    winners = []            # parsed price of the earliest scrape per listing
    lid = 0
    # flooded products: a few ids that carry a fixed share of all listings
    n_listings_plain = sum(rng.randint(*cfg["listings"]) for _ in cat)
    flood_each = int(n_listings_plain * cfg["flood_share"] / max(1, cfg["flooded"]))
    per_product = [rng.randint(*cfg["listings"]) for _ in cat]
    for i in range(cfg["flooded"]):
        per_product[i] += flood_each
    for p, n_listings in zip(cat, per_product):
        for _ in range(n_listings):
            lid += 1
            src = pick_source(rng)
            outlier = rng.random() < OUTLIER_RATE
            price0 = p["base"] * (3 if outlier else 1)
            n_scrapes = rng.randint(*cfg["rescrapes"])
            # rescrapes are hours apart, newest first in the file: the
            # merge keeps the earliest scrape of each listing
            first_minute = rng.randrange(0, 60)
            # every field but price and scrape time is fixed per listing, so
            # all scrapes of a listing derive the same product id
            static = ROW[src](rng, p, lid, None, None)
            scrapes = []
            for r in range(n_scrapes):
                drift = 1.0 + rng.uniform(-0.04, 0.04)
                value = max(1, int(price0 * drift))
                raw = (rng.choice(SENTINELS) if rng.random() < SENTINEL_RATE
                       else fmt_price(rng, src, value))
                when = ts(r * 60 + first_minute)       # r hours before the drop
                scrapes.append((when, raw))
            for when, raw in scrapes:
                rows[src].append(dict(static, price=raw, **{TIME_FIELD[src]: when}))
            earliest = min(scrapes)                     # smallest timestamp
            winners.append((src, parse(src, earliest[1])))
    meta = {"workload": workload, "seed": seed, "files": {}, "planted_malformed": 0,
            "listings": lid, "catalog_products": len(cat)}
    for src, recs in rows.items():
        rng.shuffle(recs)
        path = os.path.join(out, FILES[src])
        malformed = 0
        if src == "Electroplanet":
            # one JSON array, as the reference ships it; never malformed
            text = "[\n" + ",\n".join(json.dumps(r, ensure_ascii=False) for r in recs) + "\n]\n"
            lines = len(recs)
        else:
            out_lines = []
            for r in recs:
                line = json.dumps(r, ensure_ascii=False)
                out_lines.append(line)
                if rng.random() < MALFORMED_RATE:
                    cut = rng.randrange(5, max(6, len(line) // 2))
                    out_lines.append(line[:cut])       # truncated record
                    malformed += 1
            text = "\n".join(out_lines) + "\n"
            lines = len(out_lines)
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        meta["files"][src] = {"file": FILES[src], "lines": lines, "bytes": len(data),
                              "records": len(recs), "malformed": malformed}
        meta["planted_malformed"] += malformed
    priced = [v for _, v in winners if v > 0]
    meta["expected"] = {
        "total_offers": len(winners),
        "min_price": min(priced), "max_price": max(priced),
        "avg_price": sum(priced) / len(priced),
        "sources": sorted({s for s, v in winners if v > 0}),
    }
    meta["input_records"] = sum(f["lines"] for f in meta["files"].values())
    meta["input_bytes"] = sum(f["bytes"] for f in meta["files"].values())
    return meta


# -------------------------------------------------------------- curation

VOCAB = ["a", "agg", "batch", "broadcast", "column", "customer", "fast", "filter",
         "group", "hash", "join", "key", "line", "node", "order", "part",
         "partition", "plan", "query", "row", "scan", "shuffle", "slow", "small",
         "sort", "spark", "stream", "table", "the", "value", "vector"]


def gen_curation(workload, seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = CURATION[workload]["docs"]
    rng = random.Random(f"{workload}:{seed}")
    ids, texts, langs, srcs, nchars = [], [], [], [], []
    prev = None
    for i in range(n):
        roll = rng.randrange(10000)
        if prev is not None and roll < 16:
            toks = list(prev)                            # exact dup of previous
        elif prev is not None and roll < 216:
            toks = list(prev)                            # near dup: one token swapped
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        else:
            toks = [rng.choice(VOCAB) for _ in range(10 + rng.randrange(91))]
        p = rng.randrange(1000)
        lang = ("en" if p < 412 else "zh" if p < 562 else "es" if p < 712
                else "fr" if p < 861 else "de")
        text = " ".join(toks)
        ids.append(i); texts.append(text); langs.append(lang)
        srcs.append(f"src{rng.randrange(20)}"); nchars.append(len(text))
        prev = toks
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                      "lang": langs, "source": srcs,
                      "n_chars": pa.array(nchars, pa.int64())})
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return {"workload": workload, "seed": seed, "input_records": n,
            "input_bytes": os.path.getsize(path),
            "files": {"documents": {"file": "documents.parquet", "lines": n,
                                    "bytes": os.path.getsize(path)}}}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload in EP1:
        meta = gen_ep1(workload, seed, out)
    elif workload in CURATION:
        meta = gen_curation(workload, seed, out)
    else:
        raise SystemExit(f"unknown workload: {workload}")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: m[k] for k in ("input_records", "input_bytes")}))
