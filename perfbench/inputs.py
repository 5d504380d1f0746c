"""Seeded input generators for the benchmark workloads.

The generators live here, not in the program, so that a change to the
program cannot change what it is measured on. Every function takes the
seed as an argument; the same seed gives byte-identical inputs. No Spark
and no ``fundus_spark`` import: the program only ever sees the parquet
files written from these rows.

Run ``python3 perfbench/inputs.py`` to print the recorded input
properties (``perfbench/inputs.json`` holds them for seed 0).
"""

from __future__ import annotations

import datetime
import json
import random
import statistics
from typing import Dict, List, Tuple

# ---- sizes (one place; BENCHMARK.json `why` lines quote them) ----------
N_TURNS = 600           # extract_job transcript turns
TURNS_PER_CONV = 10     # mean conversation size
ZIPF_S = 1.2            # conversation-size skew exponent
P_TOOL = 0.8            # share of turns that carry article HTML
P_PAGE = 0.6            # share of tool turns that are page-sized
N_DOCS = 700            # curate_batch corpus rows
P_EXACT = 0.10          # planted exact duplicates (whitespace-perturbed)
P_NEAR = 0.10           # planted near-duplicates (Jaccard >= 0.9)
P_CONTAM = 0.04         # planted eval-contaminated docs
N_EVAL = 30             # eval-set documents
APPEND_BATCHES = 2      # traced run only: batch files appended by triggers
APPEND_BATCH_DOCS = 40

EPOCH = datetime.datetime(2024, 1, 1)
_SYLLABLES = "ka lo mi ra tu ne so vi da pe gu zo ri ta mo la be fi no sa".split()


def _vocabulary(size: int = 3000) -> List[str]:
    # fixed (seed-independent) vocabulary; word choice is Zipf-weighted
    rng = random.Random(7)
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocabulary()
_CUM = []
_acc = 0.0
for _k in range(len(VOCAB)):
    _acc += 1.0 / (_k + 1)
    _CUM.append(_acc)


def _words(rng: random.Random, n: int) -> List[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=n)


def _sentence(rng: random.Random, lo: int = 6, hi: int = 16) -> str:
    return " ".join(_words(rng, rng.randint(lo, hi))).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(2, 4)))


# ---- extract_job: transcripts (conv_id, turn_idx, role, text, tool, ts) ----

def _ld(title: str, author: str, date: datetime.datetime) -> str:
    return json.dumps(
        {
            "@context": "http://schema.org",
            "@type": "NewsArticle",
            "headline": title,
            "author": [{"@type": "Person", "name": author}],
            "datePublished": date.isoformat() + "Z",
            "isAccessibleForFree": True,
        }
    )


def _generic_article(rng: random.Random, title: str, author: str, date: datetime.datetime) -> Tuple[str, str]:
    parts = [f"<p class='summary'>{_paragraph(rng)}</p>"]
    for s in range(rng.randint(1, 3)):
        if s:
            parts.append(f"<h2>{_sentence(rng, 3, 6)[:-1]}</h2>")
        parts.extend(f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(2, 3)))
    keywords = ", ".join(_words(rng, rng.randint(2, 5)))
    head = (
        f"<meta charset='utf-8'><title>{title}</title>"
        f"<meta name='keywords' content='{keywords}'>"
        f"<script type='application/ld+json'>{_ld(title, author, date)}</script>"
    )
    return head, "<article>" + "".join(parts) + "</article>"


def _rich_article(rng: random.Random, title: str, author: str, date: datetime.datetime, n: int) -> Tuple[str, str]:
    img = f"https://img.example/{n}"
    body = (
        f"<div class='article-media'><figure><img src='{img}-s.jpg' "
        f"srcset='{img}-s.jpg 400w, {img}-l.jpg 800w'><figcaption>{_sentence(rng, 3, 6)}"
        "</figcaption></figure></div><div class='article-body'>"
        + "".join(f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(3, 6)))
        + f"<div class='br-text'>{_sentence(rng)}<br><br>{_sentence(rng)}</div></div>"
    )
    head = f"<title>{title}</title><script type='application/ld+json'>{_ld(title, author, date)}</script>"
    return head, body


def _page_chrome(rng: random.Random, head: str, article: str) -> str:
    """Page-sized HTML: the article inside nav, script, sidebar and
    footer boilerplate of a real site (tens of KB)."""
    def links(n: int) -> str:
        return "".join(f"<li><a href='/{w}'>{w.title()}</a></li>" for w in _words(rng, n))

    script = "".join(
        f"var {w}_{i} = function(x) {{ return x * {i} + '{w}'; }};\n" for i, w in enumerate(_words(rng, rng.randint(150, 450)))
    )
    sidebar = "".join(
        f"<div class='teaser'><h3>{_sentence(rng, 3, 7)}</h3><p>{_sentence(rng)}</p></div>"
        for _ in range(rng.randint(10, 40))
    )
    return (
        f"<!DOCTYPE html><html lang='en'><head>{head}<script>{script}</script>"
        "<style>.nav{display:flex}.teaser{margin:0}</style></head><body>"
        f"<header><nav class='nav'><ul>{links(rng.randint(60, 200))}</ul></nav></header>"
        f"<main>{article}<aside>{sidebar}</aside></main>"
        f"<footer><ul>{links(rng.randint(40, 120))}</ul><p>{_sentence(rng)}</p></footer>"
        f"<script>{script[: len(script) // 2]}</script></body></html>"
    )


def _zipf_sizes(rng: random.Random, total: int, n: int, s: float) -> List[int]:
    weights = [(k + 1) ** -s for k in range(n)]
    rng.shuffle(weights)
    norm = sum(weights)
    sizes = [max(1, int(total * w / norm)) for w in weights]
    k = 0
    while sum(sizes) < total:
        sizes[k % n] += 1
        k += 1
    while sum(sizes) > total:
        j = max(range(n), key=sizes.__getitem__)
        sizes[j] -= 1
    return sizes


def transcripts(seed: int) -> List[Dict]:
    """Zipf-sized conversations; ``tool`` turns carry article HTML (a
    template article of ~2 KB under the ``generic`` or ``rich`` rule, or
    a page-sized document with boilerplate), user/assistant turns are
    short plain text. Each row has a ``kind`` (plain/small/page) that the
    benchmark keeps for itself and drops before writing."""
    rng = random.Random(seed)
    rows = []
    n_convs = N_TURNS // TURNS_PER_CONV
    sizes = _zipf_sizes(rng, N_TURNS, n_convs, ZIPF_S)
    # exact shares (not per-turn coin flips), so every seed has the same
    # number of tool turns and pages; the first turn of a conversation
    # is always plain
    slots = [(c, t) for c, size in enumerate(sizes) for t in range(1, size)]
    n_tool = round(P_TOOL * N_TURNS)
    tool_slots = rng.sample(slots, n_tool)
    page_slots = set(rng.sample(tool_slots, round(P_PAGE * n_tool)))
    tool_slots = set(tool_slots)
    for conv, size in enumerate(sizes):
        conv_id = f"conv-{seed}-{conv:05d}"
        start = EPOCH + datetime.timedelta(days=rng.randint(0, 364), seconds=rng.randint(0, 86399))
        for turn in range(size):
            ts = start + datetime.timedelta(minutes=turn)
            if (conv, turn) not in tool_slots:
                role = "user" if turn % 2 == 0 else "assistant"
                rows.append(dict(conv_id=conv_id, turn_idx=turn, role=role,
                                 text=" ".join(_sentence(rng) for _ in range(rng.randint(1, 4))),
                                 tool=None, ts=ts, kind="plain"))
                continue
            title = _sentence(rng, 4, 9)[:-1]
            author = " ".join(w.title() for w in _words(rng, 2))
            date = EPOCH + datetime.timedelta(days=rng.randint(0, 364), seconds=rng.randint(0, 86399))
            page = (conv, turn) in page_slots
            if not page and rng.random() < 0.5:
                head, body = _rich_article(rng, title, author, date, len(rows))
                tool = "rich"
            else:
                head, body = _generic_article(rng, title, author, date)
                tool = "generic"
            html = (
                _page_chrome(rng, head, body) if page
                else f"<!DOCTYPE html><html lang='en'><head>{head}</head><body><main>{body}</main></body></html>"
            )
            rows.append(dict(conv_id=conv_id, turn_idx=turn, role="tool", text=html, tool=tool,
                             ts=ts, kind="page" if page else "small"))
    return rows


# ---- curate_batch: corpus (doc_id, source, text) + eval set ------------

def _doc_text(rng: random.Random) -> str:
    return " ".join(_words(rng, rng.randint(120, 320)))


def _near_dup(rng: random.Random, text: str) -> str:
    # one substituted word changes at most 4 of the >= 117 word 4-grams
    # of a generated document: Jaccard >= 113/121 > 0.9
    toks = text.split(" ")
    toks[rng.randrange(len(toks))] = rng.choice(VOCAB) + "x"
    return " ".join(toks)


def _whitespace_variant(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    i = rng.randrange(1, len(toks))
    return "  " + " ".join(toks[:i]) + "\n\t" + " ".join(toks[i:]) + " "


def corpus(seed: int) -> Dict:
    """``docs``: rows with planted exact duplicates (whitespace variants
    of an earlier original), near-duplicates (Jaccard >= 0.9 to an
    earlier original) and eval-contaminated docs (an eval 12-gram spliced
    in). ``eval``: the decontamination set. ``planted``: id lists per
    kind, for the benchmark's own checks."""
    rng = random.Random(seed)
    eval_docs = [dict(doc_id=10**9 + i, source="eval", text=_doc_text(rng)) for i in range(N_EVAL)]
    sources = [f"src-{k}" for k in range(5)]
    docs: List[Dict] = []
    originals: List[Dict] = []
    planted = {"exact": [], "near": [], "contam": []}
    # exact planted counts; the first 20 docs are originals so every
    # copy has an earlier sibling
    kinds = ["exact"] * round(P_EXACT * N_DOCS) + ["near"] * round(P_NEAR * N_DOCS) + ["contam"] * round(P_CONTAM * N_DOCS)
    kinds += [None] * (N_DOCS - 20 - len(kinds))
    rng.shuffle(kinds)
    kinds = [None] * 20 + kinds
    for doc_id, kind in enumerate(kinds):
        source = rng.choices(sources, weights=[8, 4, 2, 1, 1])[0]
        if kind == "exact":
            text = _whitespace_variant(rng, rng.choice(originals)["text"])
        elif kind == "near":
            text = _near_dup(rng, rng.choice(originals)["text"])
        elif kind == "contam":
            toks = _doc_text(rng).split(" ")
            ev = rng.choice(eval_docs)["text"].split(" ")
            at = rng.randrange(len(ev) - 12)
            cut = rng.randrange(len(toks))
            text = " ".join(toks[:cut] + ev[at: at + 12] + toks[cut:])
        else:
            text = _doc_text(rng)
        row = dict(doc_id=doc_id, source=source, text=text)
        docs.append(row)
        if kind is None:
            originals.append(row)
        else:
            planted[kind].append(doc_id)
    return {"docs": docs, "eval": eval_docs, "planted": planted}


def append_batches(seed: int, corpus_docs: List[Dict]) -> List[List[Dict]]:
    """Batches for the traced append segment: exact and near duplicates
    of the corpus and of earlier batch docs, plus fresh docs, with ids
    above every corpus id (the append contract's monotone ids)."""
    rng = random.Random(seed * 7919 + 1)
    pool = list(corpus_docs)
    next_id = max(d["doc_id"] for d in corpus_docs) + 1
    batches = []
    for _ in range(APPEND_BATCHES):
        batch = []
        for _ in range(APPEND_BATCH_DOCS):
            roll = rng.random()
            if roll < 0.2:
                text = _whitespace_variant(rng, rng.choice(pool)["text"])
            elif roll < 0.5:
                text = _near_dup(rng, rng.choice(pool)["text"])
            else:
                text = _doc_text(rng)
            row = dict(doc_id=next_id, source=rng.choice(["src-0", "src-1"]), text=text)
            next_id += 1
            batch.append(row)
        pool.extend(batch)
        batches.append(batch)
    return batches


# ---- recorded properties ----------------------------------------------

def _sizes(texts: List[str]) -> Dict:
    sizes = sorted(len(t.encode()) for t in texts)
    q = statistics.quantiles(sizes, n=100)
    return {"p10": q[9], "p50": q[49], "p90": q[89], "p99": q[98], "max": sizes[-1]}


def describe(seed: int) -> Dict:
    turns = transcripts(seed)
    kinds = [t["kind"] for t in turns]
    conv_sizes = sorted((sum(1 for t in turns if t["conv_id"] == c) for c in {t["conv_id"] for t in turns}), reverse=True)
    cur = corpus(seed)
    n = len(cur["docs"])
    return {
        "seed": seed,
        "extract_job": {
            "rows": len(turns),
            "bytes": sum(len(t["text"].encode()) for t in turns),
            "doc_bytes": _sizes([t["text"] for t in turns]),
            "tool_doc_bytes": _sizes([t["text"] for t in turns if t["kind"] != "plain"]),
            "zipf_exponent": ZIPF_S,
            "conversations": len(conv_sizes),
            "largest_conversations": conv_sizes[:3],
            "share_tool": round(1 - kinds.count("plain") / len(kinds), 4),
            "share_page": round(kinds.count("page") / len(kinds), 4),
        },
        "curate_batch": {
            "rows": n,
            "bytes": sum(len(d["text"].encode()) for d in cur["docs"]),
            "doc_bytes": _sizes([d["text"] for d in cur["docs"]]),
            "eval_docs": len(cur["eval"]),
            "share_exact_dup": round(len(cur["planted"]["exact"]) / n, 4),
            "share_near_dup": round(len(cur["planted"]["near"]) / n, 4),
            "share_contaminated": round(len(cur["planted"]["contam"]) / n, 4),
            "append_batches": APPEND_BATCHES,
            "append_batch_docs": APPEND_BATCH_DOCS,
        },
    }


if __name__ == "__main__":
    import sys

    print(json.dumps(describe(int(sys.argv[1]) if len(sys.argv) > 1 else 0), indent=2))
