"""Engine configuration.

Analog of the reference's YAML Configuration struct
(/root/reference/app/model/config.go:3-18, loaded app/main.go:21-48).
We keep the semantically meaningful knobs and drop the HTTP plumbing.
A frozen dataclass ships cleanly via ``spark-submit --py-files``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    # BM25 parameters — Lucene/Solr defaults, pinned by BASELINE.json.
    k1: float = 1.2
    b: float = 0.75

    # "full" stores doc text inline in doc_meta; "lazy" stores only a
    # pointer back to the source table (reference full-vs-lazy indexing,
    # app/process/solr.go:127-202, rationale app/assets/build/config.yml:27-33).
    # Lazy is the scale default: assembling inline doc_text was the
    # worst-scaling build stage, and snippets resolve from the turns
    # table post-ranking anyway (the Q11 late-materialization path).
    index_type: str = "lazy"

    # Index-time text normalization. The reference optionally pre-escapes
    # non-ASCII at build time so query-time work is cheaper
    # (app/process/encoding.go:10-32); our analog is casefold+NFKC at
    # build time, with the SAME normalization applied to queries
    # (config.yml:34-39 warns they must match).
    casefold: bool = True
    unicode_nfkc: bool = True

    # Tokenizer: ASCII alnum words. Kept simple and shared verbatim with
    # the DuckDB oracle (regexp_extract_all(lower(text),'[a-z0-9]+')).
    token_pattern: str = r"[a-z0-9]+"

    # Doc-id range width of the block-max bound table: one bound row per
    # (term, range), so every group the bound aggregation builds holds
    # at most range_size postings — hot-term (stopword) skew is
    # structurally impossible, no salting pre-pass needed. Query-side,
    # ranges are WAND's pruning granularity.
    range_size: int = 4096

    # Query-side projection cap — mirrors the reference's hard
    # rows=600 file-list cap (app/process/solr.go:69).
    fetch_limit: int = 600

    # Default top-k.
    top_k: int = 10

    # Number of turn words per synthetic turn when deriving transcripts
    # from the `documents` test table (test/bench plumbing only).
    turn_words: int = 12

    shuffle_partitions: int = 32

    extra: dict = field(default_factory=dict)


DEFAULT = IndexConfig()
