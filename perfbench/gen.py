"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes, fixture tables): the
same seed gives byte-identical files. The engine only ever sees the files
written here (plus the bundled EP1 fixtures it already ships), never the
seed.

Replication keeps keys disjoint: replica ``r`` tags every page, crop and
file *base name* with ``r{r:05d}_`` (crop ids and ``pdfBaseFromImageId``
both derive from the base name, so a tag in the directory part would make
crops of different replicas collide), suffixes shop names with
``~{r:05d}`` and offsets user ids by ``r * USER_ID_STRIDE``. Shops are
replicated together with their files, so every shop's valid-file list
keeps its fixture length however far the catalog is scaled.
"""

import datetime
import json
import os
import random

USER_ID_STRIDE = 1000
FIXTURE_DIR = os.path.join("src", "main", "resources", "graft")

# Vocabulary for synthetic documents (store_churn), the same flavour as the
# relational test corpus: short technical words, so shingles collide often
# enough that MinHash-LSH finds real candidates.
WORDS = ("spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table "
         "stream merge data join vector customer the a index page item "
         "price shop flyer").split()

EMBED_DIM = 64
EMBED_LABELS = 10


def tag(r):
    return "r%05d_" % r


def shop_of(shop, r):
    return "%s~%05d" % (shop, r)


def read_tsv(root, name):
    with open(os.path.join(root, FIXTURE_DIR, name), encoding="utf-8") as f:
        lines = f.read().splitlines()
    header = lines[0].split("\t")
    return [dict(zip(header, ln.split("\t"))) for ln in lines[1:] if ln]


def tag_path(path, r):
    """Tag the base name of ``path``: ``a/b/x.png`` -> ``a/b/r00007_x.png``."""
    head, _, base = path.rpartition("/")
    return (head + "/" if head else "") + tag(r) + base


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for row in rows:
            f.write(json.dumps(row, sort_keys=True, ensure_ascii=False))
            f.write("\n")


def page_row(p, r, op):
    return {"op": op, "image_id": tag_path(p["image_id"], r),
            "filename": tag_path(p["filename"], r),
            "shop_name": p["shop_name"], "page_no": int(p["page_no"]),
            "width": int(p["width"]), "height": int(p["height"])}


def gen_bulk(rng, pages, replicas_per_op, max_ops, warmup_pages):
    """One backfill per op: ``replicas_per_op`` full copies of the fixture
    pages, replica ranges disjoint across ops, page order shuffled. Op 0
    is the untimed warm-up and takes only ``warmup_pages`` of its pages."""
    rows = []
    for op in range(max_ops):
        batch = [page_row(p, op * replicas_per_op + k, op)
                 for k in range(replicas_per_op) for p in pages]
        rng.shuffle(batch)
        rows.extend(batch[:warmup_pages] if op == 0 else batch)
    return rows


def shift_day(day, days):
    return (datetime.date.fromisoformat(day)
            + datetime.timedelta(days=days)).isoformat()


def gen_ep2(rng, meta, users, replicas, shift_classes):
    """Catalog and users replicated ``replicas`` times, shops together with
    files. Replica ``r`` shifts its validity windows by ``r % shift_classes``
    days, so validity flips fall on every day instead of on the fixture's
    few boundary dates. Replica order is shuffled so row order carries no
    structure."""
    order = list(range(replicas))
    rng.shuffle(order)
    catalog, people = [], []
    for r in order:
        shift = r % shift_classes
        for m in meta:
            catalog.append({
                "filename": tag(r) + m["filename"],
                "shop_name": shop_of(m["shop_name"], r),
                "valid_from": shift_day(m["valid_from"], shift),
                "valid_to": shift_day(m["valid_to"], shift),
                "valid": m["valid"] == "true",
                "num_pages": int(m["num_pages"])})
        for u in users:
            def shops(s):
                return [shop_of(x, r) for x in s.split(",")] if s else []
            people.append({
                "user_id": int(u["user_id"]) + r * USER_ID_STRIDE,
                "included_shops": shops(u["included_shops"]),
                "excluded_shops": shops(u["excluded_shops"]),
                "wants_pdf_news": u["wants_pdf_news"] == "true",
                "tracked_items": (u["tracked_items"].split(",")
                                  if u["tracked_items"] else [])})
    return catalog, people


def gen_docs(rng, first_id, n, dup_share, pool=None):
    """Documents with ids first_id..first_id+n-1; ``dup_share`` of them are
    light edits of an earlier document (of ``pool`` when given), so the
    dedup store sees real near-duplicates."""
    docs = []
    for i in range(first_id, first_id + n):
        src = pool if pool is not None else docs
        if src and rng.random() < dup_share:
            words = rng.choice(src)["text"].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 90))]
        docs.append({"doc_id": i, "text": " ".join(words)})
    return docs


def gen_vecs(rng, n):
    """Vectors around ``EMBED_LABELS`` seeded cluster centres."""
    centres = [[rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
               for _ in range(EMBED_LABELS)]
    vecs = []
    for i in range(n):
        label = rng.randrange(EMBED_LABELS)
        v = [round(c + rng.gauss(0.0, 0.35), 6) for c in centres[label]]
        vecs.append({"vec_id": i, "embedding": v, "label": label})
    return vecs


def generate(root, workload, seed, sizes, out_dir):
    """Write the inputs of ``workload`` into ``out_dir``; returns the spec
    the JVM driver reads (sizes plus the generated file names)."""
    rng = random.Random("%s:%d" % (workload, seed))
    os.makedirs(out_dir, exist_ok=True)
    spec = {"workload": workload, "seed": seed, "sizes": sizes}
    if workload == "ingest_bulk":
        pages = read_tsv(root, "pipeline_pages.tsv")
        write_jsonl(os.path.join(out_dir, "pages.jsonl"),
                    gen_bulk(rng, pages, sizes["replicas_per_op"],
                             sizes["max_ops"], sizes["warmup_pages"]))
    elif workload == "ep2_sweep":
        catalog, users = gen_ep2(
            rng, read_tsv(root, "pipeline_pdf_metadata.tsv"),
            read_tsv(root, "pipeline_users.tsv"), sizes["replicas"],
            sizes["shift_classes"])
        write_jsonl(os.path.join(out_dir, "catalog.jsonl"), catalog)
        write_jsonl(os.path.join(out_dir, "users.jsonl"), users)
    elif workload == "store_churn":
        n_docs = sizes["init_docs"] + sizes["max_ops"] * sizes["write_docs"]
        docs = gen_docs(rng, 0, n_docs, sizes["dup_share"])
        probes = gen_docs(rng, n_docs, sizes["probe_docs"], 0.5,
                          pool=docs[:sizes["init_docs"]])
        write_jsonl(os.path.join(out_dir, "docs.jsonl"), docs + probes)
        n_vecs = sizes["init_vecs"] + sizes["max_ops"] * sizes["write_vecs"]
        write_jsonl(os.path.join(out_dir, "vecs.jsonl"),
                    gen_vecs(rng, n_vecs))
    else:
        raise ValueError("unknown workload: %s" % workload)
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec
