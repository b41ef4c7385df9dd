"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical rows. The program under test only ever sees the
generated rows (through ``sources.spark_io``); the ground truth the
benchmark checks against is returned alongside them.
"""

from __future__ import annotations

import random

from adaptive_pdf_extractor_spark.sources.corpus import text_to_spans

# --------------------------------------------------------------------------
# adaptive_learn: extra document templates with random schemas
# --------------------------------------------------------------------------

_WORDS = ["registro", "emissao", "codigo", "orgao", "validade", "titular",
          "protocolo", "unidade", "classe", "referencia", "matricula", "lote"]
_SHAPES = ["digits", "word", "mixed", "code"]
_SEPS = ["\n"] * 8 + [""] * 2 + [" "] * 6 + ["   "] * 2 + ["\t"] * 2


def _value(rng: random.Random, shape: str) -> str:
    if shape == "digits":
        return str(rng.randint(10**4, 10**8))
    if shape == "word":
        return f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}"
    if shape == "code":
        return f"{rng.randint(10, 99)}.{rng.randint(100, 999)}-{rng.randint(0, 9)}"
    return f"{rng.choice(_WORDS).title()} {rng.randint(100, 9999)}"


def template_rows(seed: int, n_templates: int, docs_per_template: int) -> list[dict]:
    """Input rows for ``n_templates`` random schemas (4-7 fields named by
    word pairs, one value shape per field), rendered like the OAB cards:
    70% field presence, 33% chunk shuffle, the reference separator mix.
    Each template is its own label, so the miner sees many (label, field)
    groups. The schemas are fixed and the documents come from ``seed``:
    workload seeds then change the data but not how many groups the miner
    learns, which would move the timings from seed to seed."""
    shape_rng = random.Random("schemas:0")
    rng = random.Random(f"templates:{seed}")
    rows = []
    for t in range(n_templates):
        label = f"tmpl_{t}"
        n_fields = shape_rng.randint(4, 7)
        names: list[str] = []
        while len(names) < n_fields:
            name = f"{shape_rng.choice(_WORDS)}_{shape_rng.choice(_WORDS)}"
            if name not in names:
                names.append(name)
        shapes = [shape_rng.choice(_SHAPES) for _ in names]
        for i in range(docs_per_template):
            doc_id = f"{label}/{i:06d}"
            chunks, expected = [], []
            for name, shape in zip(names, shapes):
                value = _value(rng, shape) if rng.random() < 0.7 else None
                expected.append({"name": name, "value": value})
                chunks.append((name.replace("_", " ").title(), value))
            if rng.random() < 0.33:
                rng.shuffle(chunks)
            text = "".join(
                title + rng.choice(_SEPS) + (value or "") for title, value in chunks
            )
            rows.append(
                {
                    "doc_id": doc_id,
                    "spans": text_to_spans(doc_id, text),
                    "label": label,
                    "schema_fields": [
                        {"name": n, "description": s} for n, s in zip(names, shapes)
                    ],
                    "expected": expected,
                }
            )
    return rows


# --------------------------------------------------------------------------
# curation_lsh: a (doc_id, text) corpus with planted near-duplicates
# --------------------------------------------------------------------------

# the program's quality gate counts these as stopwords; ~30% of tokens
# keeps every generated document above the 0.5 quality threshold
_STOP = ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"]


class CurationCase:
    """The corpus, the incremental delta and their planted ground truth.

    Ids: base docs ``0..n_base-1``; planted copies follow, then the
    template flood, then (in the delta) ids from ``DELTA_BASE`` upward, so
    every copy sorts after its original and every delta id after every
    corpus id (the ``curate_increment`` exactness precondition).
    """

    DELTA_BASE = 1_000_000

    def __init__(self, seed: int, n_base: int, n_copies: int, flood: int,
                 delta_fresh: int, delta_copies: int, delta_reingest: int,
                 delta_pairs: int):
        rng = random.Random(f"curation:{seed}")
        vocab = sorted({
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(rng.randint(3, 9)))
            for _ in range(4000)
        })

        def doc() -> str:
            # a fixed length keeps the LSH and verify work the same per seed
            return " ".join(
                rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(100)
            )

        def near_copy(text: str) -> str:
            # drop the first two tokens: 5-gram Jaccard stays above 0.9
            return text.split(" ", 2)[2]

        self.rows: list[tuple[int, str]] = [(i, doc()) for i in range(n_base)]
        self.copy_of: dict[int, int] = {}
        for j, orig in enumerate(sorted(rng.sample(range(n_base), n_copies))):
            cid = n_base + j
            self.copy_of[cid] = orig
            self.rows.append((cid, near_copy(self.rows[orig][1])))
        template = doc()
        first_flood = n_base + n_copies
        self.flood_ids = list(range(first_flood, first_flood + flood))
        self.rows += [
            (fid, f"{template} unique marker u{fid:07d}") for fid in self.flood_ids
        ]
        # expected curated output: every base doc, one flood canonical
        self.expected_kept = set(range(n_base)) | {first_flood}

        text_of = dict(self.rows)
        old = sorted(self.expected_kept)
        nid = iter(range(self.DELTA_BASE, self.DELTA_BASE + 10**6))
        self.delta: list[tuple[int, str]] = []
        self.delta_fresh = []
        for _ in range(delta_fresh):
            self.delta_fresh.append(next(nid))
            self.delta.append((self.delta_fresh[-1], doc()))
        self.delta_dropped = []
        for orig in rng.sample(old, delta_copies):
            self.delta_dropped.append(next(nid))
            self.delta.append((self.delta_dropped[-1], near_copy(text_of[orig])))
        for orig in rng.sample(old, delta_reingest):
            self.delta_dropped.append(next(nid))
            self.delta.append((self.delta_dropped[-1], text_of[orig]))
        for _ in range(delta_pairs):
            first, second = next(nid), next(nid)
            text = doc()
            self.delta_fresh.append(first)
            self.delta_dropped.append(second)
            self.delta += [(first, text), (second, near_copy(text))]

    def full_outcomes(self, kept: set[int]) -> list[bool]:
        """One boolean per planted outcome of the full curation: each copy
        dropped, its original kept, the flood collapsed to its minimum id."""
        out = []
        for cid, orig in self.copy_of.items():
            out += [cid not in kept, orig in kept]
        flood_kept = kept.intersection(self.flood_ids)
        out.append(flood_kept == {self.flood_ids[0]})
        return out

    def delta_outcomes(self, kept: set[int]) -> list[bool]:
        """One boolean per planted delta doc: fresh docs and the first of
        each in-batch pair kept; copies, re-ingestions and second halves
        of pairs dropped."""
        return [d in kept for d in self.delta_fresh] + [
            d not in kept for d in self.delta_dropped
        ]
