"""Seeded input generator for the product-path benchmark.

Plain Python and pyarrow only, with no import from the program under test,
so a change to the program can never change a workload's inputs. Every
function is a pure function of its seed: the same seed writes byte-identical
files and returns the same plan.

What it writes:
- the `ingest` file tree (.txt/.md/.html, a fixed share of exact duplicates)
  and its seeded plan per cycle (files changed, files added, file forgotten);
- the `serve` document corpus as one parquet file per source;
- the question set (JSONL `{question, expected_source}`) and search queries.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

# Input sizes. Fixed across seeds: a seed changes the content, never the
# amount of work, so run-to-run spread measures the system, not the sizing.
INGEST_FILES = 80
INGEST_DUP_SHARE = 0.10
INGEST_CHANGE_SHARE = 0.05
INGEST_ADD_SHARE = 0.02
SERVE_SOURCES = 20
SERVE_DOCS_PER_SOURCE = 25
QUESTIONS = 40

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "fo", "ga", "hu",
    "ji", "ze", "po", "qua", "bri", "sten", "dor", "mal", "tek", "yon", "pha",
    "ulm", "ost", "ira", "eld", "cor",
]


def vocabulary(rng: random.Random, n: int = 4000) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str]) -> str:
    # Zipf-ish word choice: a head of common words and a long tail, so BM25
    # has both stop-like and discriminative terms to score
    n = rng.randint(6, 16)
    words = [vocab[min(int(rng.paretovariate(1.1)) - 1, len(vocab) - 1)
                   if rng.random() < 0.5 else rng.randrange(len(vocab))]
             for _ in range(n)]
    return " ".join(words).capitalize() + "."


def _paragraph(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(_sentence(rng, vocab) for _ in range(rng.randint(2, 5)))


def _body(rng: random.Random, vocab: list[str], n_par: int) -> list[str]:
    return [_paragraph(rng, vocab) for _ in range(n_par)]


def render(ext: str, title: str, paragraphs: list[str]) -> str:
    if ext == "md":
        return f"# {title}\n\n" + "\n\n".join(paragraphs) + "\n"
    if ext == "html":
        body = "".join(f"<p>{p}</p>\n" for p in paragraphs)
        return f"<html><head><title>{title}</title></head><body>\n{body}</body></html>\n"
    return title + "\n\n" + "\n\n".join(paragraphs) + "\n"


# ---------------------------------------------------------------------------
# ingest: a file tree and its mutation plan
# ---------------------------------------------------------------------------


@dataclass
class IngestTree:
    root: str
    # relative path -> file text; the generator's own record of the tree
    files: dict[str, str] = field(default_factory=dict)
    # files whose rows were forgotten; they stay on disk, unchanged
    forgotten: set[str] = field(default_factory=set)

    def expected_sources(self) -> set[str]:
        """Relative paths the sink should hold: per distinct content, the
        lexicographically smallest path (the dedup filter keeps the
        smallest item_id, and every item_id shares the tree's prefix),
        less the forgotten ones."""
        keep: dict[str, str] = {}
        for rel in sorted(self.files):
            keep.setdefault(self.files[rel], rel)
        return set(keep.values()) - self.forgotten

    def solo_files(self) -> list[str]:
        """Files whose content no other file shares, not forgotten. Only
        these are changed or forgotten: changing one half of a duplicate
        pair would resurrect the other half, which the state ledger holds
        as already seen and the sink never stored."""
        copies = Counter(self.files.values())
        return sorted(rel for rel, text in self.files.items()
                      if copies[text] == 1 and rel not in self.forgotten)


def write_ingest_tree(root: str, seed: int, n_files: int = INGEST_FILES) -> IngestTree:
    rng = random.Random(f"ingest-tree-{seed}")
    vocab = vocabulary(random.Random(f"vocab-{seed}"))
    tree = IngestTree(root)
    n_dup = int(round(n_files * INGEST_DUP_SHARE))
    originals = []
    for i in range(n_files - n_dup):
        ext = ("txt", "md", "html")[i % 3]
        rel = f"d{i % 8:02d}/doc{i:05d}.{ext}"
        tree.files[rel] = render(ext, f"Document {i}", _body(rng, vocab, rng.randint(3, 7)))
        originals.append(rel)
    for j in range(n_dup):
        src = originals[rng.randrange(len(originals))]
        ext = src.rsplit(".", 1)[1]
        # same bytes under a different name: an exact duplicate
        tree.files[f"dup/copy{j:05d}.{ext}"] = tree.files[src]
    for rel, text in tree.files.items():
        _write_text(os.path.join(root, rel), text)
    return tree


def mutate_ingest_tree(tree: IngestTree, seed: int, cycle: int) -> dict[str, int]:
    """Change INGEST_CHANGE_SHARE of the unique files and add
    INGEST_ADD_SHARE new ones. Changed and added files get content no
    other file has, so each is one changed document that survives dedup.
    Returns the counts the next `run` must report and the touched paths."""
    rng = random.Random(f"ingest-mutate-{seed}-{cycle}")
    vocab = vocabulary(random.Random(f"vocab-{seed}"))
    n = len(tree.files)
    n_change = max(1, int(round(n * INGEST_CHANGE_SHARE)))
    n_add = max(1, int(round(n * INGEST_ADD_SHARE)))
    touched = rng.sample(tree.solo_files(), n_change)
    for rel in touched:
        text = tree.files[rel]
        marker = f"Revision {cycle} {rng.getrandbits(48):x}. " + _sentence(rng, vocab)
        if rel.endswith(".html"):
            text = text.replace("</body>", f"<p>{marker}</p>\n</body>")
        else:
            text = text + "\n" + marker + "\n"
        tree.files[rel] = text
        _write_text(os.path.join(tree.root, rel), text)
    for j in range(n_add):
        ext = ("txt", "md", "html")[j % 3]
        rel = f"new/c{cycle:03d}_{j:04d}.{ext}"
        text = render(ext, f"Added {cycle}-{j} {rng.getrandbits(48):x}",
                      _body(rng, vocab, rng.randint(3, 7)))
        tree.files[rel] = text
        _write_text(os.path.join(tree.root, rel), text)
        touched.append(rel)
    return {"loaded": len(tree.files), "changed": n_change + n_add, "paths": touched}


def forget_pick(tree: IngestTree, seed: int, cycle: int) -> str:
    """The file whose rows cycle `cycle` forgets; recorded in the tree."""
    rel = random.Random(f"ingest-forget-{seed}-{cycle}").choice(tree.solo_files())
    tree.forgotten.add(rel)
    return rel


# ---------------------------------------------------------------------------
# serve: a parquet corpus with few large sources
# ---------------------------------------------------------------------------


def source_name(i: int) -> str:
    return f"src{i:04d}"


def source_docs(seed: int, i: int, n_docs: int) -> list[dict]:
    """Documents of source i. Each source draws from its own topical slice
    of the vocabulary, so searches have a right answer to find."""
    rng = random.Random(f"source-{seed}-{i}")
    vocab = vocabulary(random.Random(f"vocab-{seed}"))
    lo = (i * 97) % (len(vocab) - 400)
    topic = vocab[lo:lo + 400]
    docs = []
    for d in range(n_docs):
        pars = []
        for _ in range(rng.randint(2, 4)):
            pars.append(_paragraph(rng, topic if rng.random() < 0.7 else vocab))
        docs.append({
            "doc_id": f"{source_name(i)}-{d:05d}",
            "source": source_name(i),
            "text": "\n\n".join(pars),
        })
    return docs


def write_source(corpus_dir: str, seed: int, i: int, n_docs: int) -> list[dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = source_docs(seed, i, n_docs)
    os.makedirs(corpus_dir, exist_ok=True)
    table = pa.Table.from_pylist(
        docs, schema=pa.schema([("doc_id", pa.string()), ("source", pa.string()),
                                ("text", pa.string())]))
    pq.write_table(table, os.path.join(corpus_dir, f"{source_name(i)}.parquet"))
    return docs


def write_corpus(corpus_dir: str, seed: int, n_sources: int = SERVE_SOURCES,
                 docs_per_source: int = SERVE_DOCS_PER_SOURCE) -> dict[str, list[dict]]:
    return {source_name(i): write_source(corpus_dir, seed, i, docs_per_source)
            for i in range(n_sources)}


def write_questions(path: str, seed: int, corpus: dict[str, list[dict]],
                    n: int = QUESTIONS) -> list[dict]:
    """Questions are word runs lifted from a document; the expected source
    is that document's source."""
    rng = random.Random(f"questions-{seed}")
    sources = sorted(corpus)
    out = []
    for q in range(n):
        src = sources[q % len(sources)]
        doc = corpus[src][rng.randrange(len(corpus[src]))]
        words = doc["text"].split()
        start = rng.randrange(max(1, len(words) - 8))
        out.append({"question": " ".join(words[start:start + 8]).strip(".").lower()
                    + f" q{q}", "expected_source": src})
    with open(path, "w", encoding="utf-8") as f:
        for row in out:
            f.write(json.dumps(row) + "\n")
    return out


def search_queries(seed: int, n: int) -> list[str]:
    rng = random.Random(f"search-{seed}")
    vocab = vocabulary(random.Random(f"vocab-{seed}"))
    return [" ".join(rng.sample(vocab, rng.randint(2, 5))) for _ in range(n)]


def _write_text(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
