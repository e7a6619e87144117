"""Seeded workload inputs.

Everything here derives from the ``--seed`` argument and is written to
the run's work directory before any timing starts; the program under
test only ever sees the files.

- ``corpus_rows``: README-shaped pages from ``h2spark.fixtures``
  (``synth_corpus(with_expected=True)``), so every document carries the
  value ``PAGE_SPEC`` must extract from it.
- ``whale_rows``: the same page shape with planted whales.  Wide whales
  hold thousands of articles; deep whales nest 2k-4k ``<ul><li>``,
  ``<div>`` or ``<b>`` elements inside the outer ``<div>`` right after
  ``.articles``, which leaves the expected value unchanged.
- ``write_sf_tables``: the ``documents`` and ``embeddings`` tables the
  ops queries read, fitted to the measured shape of the sf0.1 tables
  (5000 documents over a 30-word vocabulary with 5% near-duplicates;
  2000 unclustered unit vectors of dimension 64).
"""

from __future__ import annotations

import os
import random

from h2spark.fixtures import _WORDS, split_into_spans, synth_corpus

# where a deep whale goes: between the close of ``.articles`` and the
# close of the outer <div> (a synth page contains this exactly once)
_DEEP_MARK = "\n</div>\n</div>\nfooter1"

DEEP_SHAPES = {
    "ulli": ("<ul><li>", "</li></ul>"),
    "div": ("<div>", "</div>"),
    "b": ("<b>", "</b>"),
}


def corpus_rows(n_docs: int, seed: int) -> list[dict]:
    return list(synth_corpus(n_docs, seed=seed, with_expected=True))


def _wide_page(rng: random.Random, idx: int, n_articles: int) -> tuple[str, dict]:
    """A page of ``n_articles`` articles in the synth-corpus markup."""
    arts_html = []
    arts = []
    for a in range(n_articles):
        tags = [f"tag{idx}-{a}-{t}" for t in range(rng.randint(0, 4))]
        views = rng.randint(0, 10**6)
        title = f"article {idx}-{a} " + " ".join(rng.choices(_WORDS, k=2))
        url = f"https://example.test/{idx}/{a}"
        noise = " ".join(rng.choices(_WORDS, k=rng.randint(0, 30)))
        arts_html.append(
            f"<div>\n<h2><a href=\"{url}\">{title}</a></h2>\n"
            f"<div><span>{views}</span> Views</div>\n"
            f"<p>{noise}</p>\n"
            f"<ul>{''.join(f'<li>{t}</li>' for t in tags)}</ul>\n</div>"
        )
        arts.append(
            {
                "title": title,
                "view_count": views,
                "url": url,
                "tags": tags,
                "first_tag": tags[0] if tags else None,
            }
        )
    lang = rng.choice(["en", "de", "fr", "ja"])
    blog_title = f"Blog {idx} " + " ".join(rng.choices(_WORDS, k=3))
    html = (
        f'<html lang="{lang}">\n<body>\n<div>\n'
        f'<h1 class="blog-title">{blog_title}</h1>\n<div class="articles">\n'
        + "\n".join(arts_html)
        + _DEEP_MARK
        + "\n<hr />\nfooter2\n</body>\n</html>"
    )
    expected = {
        "lang": lang,
        "blog_title": blog_title,
        "articles": arts,
        "footer2": "footer2",
    }
    return html, expected


def whale_rows(
    n_typical: int, seed: int, wide: list[int], deep: list[tuple[str, int]]
) -> list[dict]:
    """Typical synth pages plus whales.  ``wide`` lists article counts,
    ``deep`` lists (shape, depth).  The whale shapes are fixed; the seed
    picks their words, values and span cuts.  Whale rows carry
    ``whale=True``."""
    rows = corpus_rows(n_typical, seed)
    rng = random.Random(f"{seed}:whales")
    idx = n_typical
    for n_articles in wide:
        html, expected = _wide_page(rng, idx, n_articles)
        rows.append(_row(rng, idx, html, expected, whale=True))
        idx += 1
    for shape, depth in deep:
        html, expected = _wide_page(rng, idx, rng.randint(1, 6))
        opn, cls = DEEP_SHAPES[shape]
        nest = opn * depth + " ".join(rng.choices(_WORDS, k=3)) + cls * depth
        html = html.replace(_DEEP_MARK, "\n</div>\n" + nest + "\n</div>\nfooter1")
        rows.append(_row(rng, idx, html, expected, whale=True))
        idx += 1
    # whales sit among the typical docs, not at the end of the input
    random.Random(f"{seed}:order").shuffle(rows)
    return rows


def _row(rng: random.Random, idx: int, html: str, expected: dict, whale: bool) -> dict:
    return {
        "doc_id": f"doc-{idx:08d}",
        "spans": split_into_spans(html, rng, n_media=rng.randint(0, 3)),
        "expected": expected,
        "whale": whale,
    }


def write_spans_parquet(rows: list[dict], path: str) -> None:
    """The hint-shaped input table (doc_id, spans) as one parquet file
    per 2048 rows, so a scan yields several tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    os.makedirs(path, exist_ok=True)
    step = 2048
    for part, lo in enumerate(range(0, len(rows), step)):
        chunk = rows[lo:lo + step]
        table = pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in chunk], pa.string()),
                "spans": pa.array([r["spans"] for r in chunk], span_t),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


def write_sf_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents`` and ``embeddings`` parquet files with the shape
    measured on the sf0.1 tables the ops queries were written against
    (figures in ``LAYERS.md``): texts of 10-100 words drawn uniformly
    from a 30-word vocabulary; exactly 5% of the rows replaced by
    another row's text plus " dup" (in sequence, so a few chain into
    "dup dup" and a few pairs come out identical); 40% ``en`` and 15%
    each of ``zh``, ``es``, ``fr``, ``de``; ``source`` = ``src<i mod
    20>``; Gaussian unit vectors of dimension 64 with no cluster
    structure and an independent uniform label in 0-9."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{seed}:sf")
    vocab = (
        "spark window merge table column vector stream value data small "
        "join filter big group hash customer sort order slow line part "
        "fast row the agg key query a scan batch"
    ).split()
    texts = [" ".join(rng.choices(vocab, k=rng.randint(10, 100)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), n_docs // 20):
        j = rng.randrange(n_docs - 1)
        j += j >= i
        texts[i] = texts[j] + " dup"
    langs = rng.choices(["en", "zh", "es", "fr", "de"], weights=[8, 3, 3, 3, 3],
                        k=n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(
                    [f"src{i % 20}" for i in range(n_docs)], pa.string()
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    gen = np.random.default_rng(rng.randrange(1 << 32))
    vecs = gen.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    list(vecs.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(gen.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
