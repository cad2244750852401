"""Deterministic synthetic web_pages corpus with planted duplicate families.

Schema per BASELINE.json:input_hint / FIXTURES.md section 1:
  url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Ground-truth duplicate families (FIXTURES.md section 2): exact, near-kswap,
near-kdelete, shuffle, containment, negative (shared boilerplate). The html
wraps `text` so the reference extraction semantics return `text` exactly
(tokens are [a-z0-9]+ words — no escaping, no title element, single <p>).

Everything is seeded (default 42); no external data.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

FAMILIES = ("exact", "near-kswap", "near-kdelete", "shuffle", "containment")


@dataclass
class Corpus:
    rows: list[dict] = field(default_factory=list)  # web_pages rows + doc_id
    truth_pairs: list[tuple[int, int, str]] = field(default_factory=list)
    truth_clusters: dict[int, int] = field(default_factory=dict)


# distinct words per corpus vocabulary
VOCAB_SIZE = 4000
# share of rows on the mega domains
MEGA_DOMAIN_FRAC = 0.3


def _vocab(rng: np.random.Generator) -> list[str]:
    syll = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
            "po", "qua", "ri", "so", "tu", "ve", "wi", "xo", "yu", "za"]
    words = set()
    while len(words) < VOCAB_SIZE:
        n = rng.integers(2, 5)
        words.add("".join(rng.choice(syll) for _ in range(n)))
    return sorted(words)


def _doc_tokens(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    # zipf draw over vocab ranks (a=1.5 ~ natural-language skew), clipped
    idx = np.minimum(rng.zipf(1.5, size=n) - 1, len(vocab) - 1)
    return [vocab[i] for i in idx]


def generate_corpus(
    n_docs: int = 500,
    seed: int = 42,
    mega_domains: int = 3,
    boiler_frac: float = 0.05,
) -> Corpus:
    """Generate ~n_docs pages. ~40% belong to planted duplicate families.

    Domains are skewed: `mega_domains` "mega domains" hold
    ~MEGA_DOMAIN_FRAC of rows (exercises the salted repartition stage B13);
    `boiler_frac` of docs share a common header/footer token block
    (boilerplate negatives — stop-shingle mass for the anchor drop cap).
    Defaults reproduce the historical corpora byte-for-byte; the
    pathological settings (mega_domains=1, boiler_frac=0.5) are the skew
    stress shape (tools/skew_stress.py).
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    corpus = Corpus()
    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

    domains = [f"site{i:03d}.example" for i in range(50)]
    mega = [f"mega{i}.example" for i in range(mega_domains)]
    langs = ["es", "de", "fr", "zh"]

    doc_id = 0
    texts: dict[int, str] = {}

    def _wrap_html(tokens: list[str], lang: str) -> str:
        """Realistic page markup around the token stream. Invariant: every
        token appears exactly once, in order, inside non-excluded elements,
        so the reference extraction semantics yield exactly
        ' '.join(tokens). Script/style/noscript bodies, comments and
        attributes add parse load without touching the golden text."""
        parts = [
            f'<!DOCTYPE html><html lang="{lang}"><head>',
            '<meta charset="utf-8"><meta name="viewport" content="width=device-width">',
            '<style>.main{margin:0 auto;max-width:72ch}.nav li{display:inline}</style>',
            '<script>window.dataLayer=window.dataLayer||[];function g(){dataLayer.push(arguments)}</script>',
            "</head><body>",
            '<!-- header --><div class="nav" id="top"><ul>',
            '</ul></div><div class="main" role="main">',
        ]
        i, n = 0, len(tokens)
        seg = 0
        while i < n:
            step = 40 + (hash_step := (seg * 37) % 47)
            chunk = tokens[i : i + step]
            i += step
            kind = seg % 7
            if kind == 3:
                parts.append(f'<h2 class="s{seg}">' + " ".join(chunk) + "</h2>")
            elif kind == 5:
                half = len(chunk) // 2 or 1
                parts.append(
                    '<ul class="list"><li>' + " ".join(chunk[:half])
                    + "</li><li>" + " ".join(chunk[half:]) + "</li></ul>"
                )
            else:
                parts.append(
                    f'<p class="para" data-seg="{seg}">' + " ".join(chunk) + "</p>"
                )
            if kind == 2:
                parts.append("<!-- segment boundary -->")
            seg += 1
        # realistic byte bulk: inline JS/CSS/JSON-LD boilerplate — the bytes
        # real pages are mostly made of; none of it reaches visible text
        junk_js = ";".join(
            f'var s{k}={{"id":{k},"w":"seg{(k * 131) % 977}","ts":1700000{k:03d}}}'
            for k in range(160)
        )
        junk_css = "".join(
            f".c{k}{{margin:{k % 9}px;padding:{k % 7}px;color:#0{k % 10}{k % 10}}}"
            for k in range(120)
        )
        ld = (
            '{"@context":"https://schema.org","@type":"Article",'
            f'"wordCount":{len(tokens)},"about":['
            + ",".join(f'{{"name":"t{k}"}}' for k in range(40))
            + "]}"
        )
        parts.append(
            '</div><noscript>enable javascript</noscript>'
            f'<script type="text/javascript">{junk_js}</script>'
            f"<style>{junk_css}</style>"
            f'<script type="application/ld+json">{ld}</script>'
            f'<script type="text/javascript">g("js","page-view",{{"seg":{seg}}});</script>'
            '<div class="footer"><img src="/l.png" alt=""></div>'
            "</body></html>"
        )
        return "\n".join(parts)

    def add_doc(tokens: list[str], lang: str = "en") -> int:
        nonlocal doc_id
        d = doc_id
        doc_id += 1
        text = " ".join(tokens)
        texts[d] = text
        if rng.random() < MEGA_DOMAIN_FRAC:
            dom = mega[int(rng.integers(0, len(mega)))]
        else:
            dom = domains[int(rng.integers(0, len(domains)))]
        url = f"https://{dom}/p/{d}"
        html = _wrap_html(tokens, lang).encode("utf-8")
        corpus.rows.append(
            {
                "doc_id": d,
                "url": url,
                "warc_ts": t0 + timedelta(seconds=int(rng.integers(0, 86400 * 30))),
                "html": html,
                "text": text if lang == "en" else "",  # non-en rows are dropped by F1
                "lang": lang,
            }
        )
        return d

    n_family_seeds = max(1, int(n_docs * 0.12))
    n_boiler = max(2, int(n_docs * boiler_frac))
    n_nonen = max(1, int(n_docs * 0.08))
    n_base = max(0, n_docs - n_family_seeds * 3 - n_boiler - n_nonen)

    # --- plain singleton docs ---
    for _ in range(n_base):
        add_doc(_doc_tokens(rng, vocab, int(rng.integers(50, 1200))))

    # --- non-English (exercise F1: excluded from dedup + truth) ---
    for _ in range(n_nonen):
        add_doc(
            _doc_tokens(rng, vocab, int(rng.integers(50, 300))),
            lang=langs[int(rng.integers(0, len(langs)))],
        )

    # --- boilerplate negatives: shared header/footer, distinct bodies ---
    header = _doc_tokens(rng, vocab, 25)
    footer = _doc_tokens(rng, vocab, 25)
    for _ in range(n_boiler):
        body = _doc_tokens(rng, vocab, int(rng.integers(400, 900)))
        add_doc(header + body + footer)

    # --- duplicate families ---
    fam_cycle = 0
    for _ in range(n_family_seeds):
        family = FAMILIES[fam_cycle % len(FAMILIES)]
        fam_cycle += 1
        members: list[int] = []
        if family == "exact":
            base = _doc_tokens(rng, vocab, int(rng.integers(100, 800)))
            members.append(add_doc(base))
            for _ in range(int(rng.integers(1, 3))):
                members.append(add_doc(list(base)))
        elif family in ("near-kswap", "near-kdelete"):
            base = _doc_tokens(rng, vocab, int(rng.integers(400, 1000)))
            members.append(add_doc(base))
            for _ in range(int(rng.integers(1, 3))):
                mutant = list(base)
                n_mut = max(1, int(len(base) * rng.uniform(0.005, 0.015)))
                pos = rng.choice(len(mutant), size=n_mut, replace=False)
                if family == "near-kswap":
                    for p in pos:
                        mutant[p] = vocab[int(rng.integers(0, len(vocab)))]
                else:
                    mutant = [t for i, t in enumerate(mutant) if i not in set(pos)]
                members.append(add_doc(mutant))
        elif family == "shuffle":
            base = _doc_tokens(rng, vocab, int(rng.integers(700, 1400)))
            members.append(add_doc(base))
            n_chunks = 8
            chunk = len(base) // n_chunks
            chunks = [base[i * chunk : (i + 1) * chunk] for i in range(n_chunks - 1)]
            chunks.append(base[(n_chunks - 1) * chunk :])
            order = rng.permutation(n_chunks)
            shuffled = [t for ci in order for t in chunks[ci]]
            members.append(add_doc(shuffled))
        elif family == "containment":
            big = _doc_tokens(rng, vocab, int(rng.integers(800, 1600)))
            members.append(add_doc(big))
            frac = rng.uniform(0.15, 0.45)
            ln = max(120, int(len(big) * frac))
            start = int(rng.integers(0, len(big) - ln))
            members.append(add_doc(big[start : start + ln]))
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                corpus.truth_pairs.append((members[i], members[j], family))

    # truth clusters over planted pairs (min-id convention)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in corpus.truth_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    for d in texts:
        corpus.truth_clusters[d] = find(d) if d in parent else d
    # normalize roots to min member id
    from collections import defaultdict

    groups = defaultdict(list)
    for d, r in corpus.truth_clusters.items():
        groups[r].append(d)
    for r, ids in groups.items():
        m = min(ids)
        for d in ids:
            corpus.truth_clusters[d] = m
    return corpus


def english_docs(corpus: Corpus) -> list[tuple[int, str]]:
    """(doc_id, text) for the rows the F1 language gate keeps."""
    return [(r["doc_id"], r["text"]) for r in corpus.rows if r["lang"] == "en"]


def write_parquet(corpus: Corpus, out_dir: str) -> None:
    """Write web_pages.parquet + dup_truth.parquet with pyarrow (no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(out_dir, exist_ok=True)
    rows = corpus.rows
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    # small row groups (~2k rows ≈ 9 MB of html) keep the file SPLITTABLE:
    # a single jumbo row group is one indivisible scan task, which caps the
    # extract stage's parallelism at the file count (Common-Crawl-style
    # inputs are many splittable files; the synthetic corpus must be too)
    pq.write_table(
        table, os.path.join(out_dir, "web_pages.parquet"), row_group_size=2000
    )
    truth = pa.table(
        {
            "doc_id_a": pa.array([a for a, _, _ in corpus.truth_pairs], pa.int64()),
            "doc_id_b": pa.array([b for _, b, _ in corpus.truth_pairs], pa.int64()),
            "family": pa.array([f for _, _, f in corpus.truth_pairs], pa.string()),
        }
    )
    pq.write_table(truth, os.path.join(out_dir, "dup_truth.parquet"))


def _gen_shard(args) -> tuple[int, int]:
    """Worker: generate one shard with its own seed and id offset, write
    parquet parts into dir-style web_pages.parquet / dup_truth.parquet."""
    import os

    k, n_shard, base_seed, offset, out_dir, gen_kwargs = args
    c = generate_corpus(n_shard, seed=base_seed + k, **gen_kwargs)
    for r in c.rows:
        d = r["doc_id"] + offset
        r["doc_id"] = d
        r["url"] = r["url"].rsplit("/", 1)[0] + f"/{d}"
    c.truth_pairs = [(a + offset, b + offset, f) for a, b, f in c.truth_pairs]

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = c.rows
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "url": pa.array([r["url"] for r in rows], pa.string()),
                "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
                "html": pa.array([r["html"] for r in rows], pa.binary()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
            }
        ),
        os.path.join(out_dir, "web_pages.parquet", f"part-{k:04d}.parquet"),
        row_group_size=2000,  # splittable shards (see write_parquet)
    )
    pq.write_table(
        pa.table(
            {
                "doc_id_a": pa.array([a for a, _, _ in c.truth_pairs], pa.int64()),
                "doc_id_b": pa.array([b for _, b, _ in c.truth_pairs], pa.int64()),
                "family": pa.array([f for _, _, f in c.truth_pairs], pa.string()),
            }
        ),
        os.path.join(out_dir, "dup_truth.parquet", f"part-{k:04d}.parquet"),
    )
    return k, len(rows)


def write_parquet_sharded(
    n_docs: int, out_dir: str, shards: int = 24, seed: int = 42, **gen_kwargs
) -> None:
    """Parallel deterministic corpus: `shards` independent shards (seed+k,
    id-offset k*chunk); duplicate families never span shards. Directory-style
    parquet outputs (a dir of part files) that Spark reads natively.
    Extra kwargs pass through to generate_corpus (skew-stress knobs)."""
    import multiprocessing as mp
    import os

    os.makedirs(os.path.join(out_dir, "web_pages.parquet"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "dup_truth.parquet"), exist_ok=True)
    chunk = n_docs // shards
    jobs = [
        (k, chunk if k < shards - 1 else n_docs - chunk * (shards - 1),
         seed, k * (chunk + max(1, chunk // 2)), out_dir, gen_kwargs)
        for k in range(shards)
    ]
    with mp.Pool(min(shards, os.cpu_count() or 4)) as pool:
        for _ in pool.imap_unordered(_gen_shard, jobs):
            pass
