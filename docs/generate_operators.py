"""Regenerate docs/OPERATORS.md from the live registry.

    python docs/generate_operators.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_etl_spark.operators import dedup  # noqa: E402
from projet_etl_spark.plans.registry import REGISTRY  # noqa: E402

HEADER = """# Operator inventory (generated from plans/registry.py)

One row per registry query — the engine's public query surface
(`__spark_entry__.queries()`). `oracle` = the driver's t2 gate runs a
full DuckDB value-hash comparison; `rows-only` = approximate or
engine-specific results, checked for shape only. Reference citations
(file:line into the reference repo) live in each operator's
docstring; semantics notes in SURVEY.md §2.

Regenerate with `python docs/generate_operators.py`.

| query | tags | check | summary |
|---|---|---|---|"""


def main() -> None:
    lines = [HEADER]
    for name, spec in sorted(REGISTRY.items()):
        doc = " ".join((spec.fn.__doc__ or "").strip().split("\n\n")[0].split())
        check = "oracle" if spec.oracle else "rows-only"
        lines.append(f"| `{name}` | {','.join(spec.tags)} | {check} | {doc} |")
    lines.append(f"""
## Tunables that are fixture-driven, not production defaults

- `COSINE_THRESHOLD = {dedup.COSINE_THRESHOLD}`
  (operators/dedup.py): the embedding near-dup threshold is set where
  the SYNTHETIC test embeddings have signal (they are near-orthogonal;
  max pairwise cosine ~0.51). Production text-embedding dedup should
  run at ~0.95 — shipping {dedup.COSINE_THRESHOLD} against real
  embeddings would merge documents that merely share a topic.
- `JACCARD_THRESHOLD = {dedup.JACCARD_THRESHOLD}`
  (operators/dedup.py): the standard near-dup setting; reasonable in
  production as-is.
- `AUDIT_BLOCK = {dedup.AUDIT_BLOCK}` (operators/dedup.py): size of
  the deterministic exact-audit sample for `dedup-embedding-cosine`;
  the audit is O(AUDIT_BLOCK^2) regardless of corpus size.""")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
