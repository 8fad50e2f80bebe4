#!/usr/bin/env python3
"""Regenerate perfbench/queries.tsv from the query registry in
src/main/scala/graft/SparkEntry.scala.

    python3 perfbench/tools/classify.py > perfbench/queries.tsv

Side rule: a query whose definition reads `documents` or `embeddings`
(directly or through a SparkEntry helper) is on the `curation` side; every
other query is on the `analytics` side.

Family rule: the first module, in the order of FAMILIES, that the
definition (or a helper it calls) names. A definition that names none of
them is TPC-H-style inline DataFrame code (`tpch`).

Measured rule: the ROADMAP target queries, the count()-pruning exhibits,
and on the analytics side the first other query of each family, so that
every family is timed. One warm pass of the measured set and the curation
funnel fit the run budget; `perfbench.Record` fingerprints every query.
"""
import re
import sys
from pathlib import Path

SRC = Path(__file__).resolve().parents[2] / "src/main/scala/graft/SparkEntry.scala"

FAMILIES = [
    ("multimodal", r"Multimodal\.|decodedAssets"),
    ("vector", r"Similarity\.|Pq\.|Ivf\b|Kmeans|Gramian|ivfCentroids|pqCodebooks|queryVector|Tables\.embeddings"),
    ("text", r"TextAnalysis\.|Dedup\.|Retrieval\.|Bpe\b|shingleIdx|withFooterLines|overflow\w*Corpus|Tables\.documents"),
    ("reconcile", r"Differ\.|Comparer|Repairer|CompareOptions|srcOrders|tgtOrders"),
    ("cdc_queries", r"cdcEnvelope|Transforms\.|Upsert\."),
    ("analytics", r"Analytics\.|AsofJoin|StreamingAnalytics"),
]
TEXT_TABLES = r"Tables\.(documents|embeddings)"
TARGETS = {"q247", "q99", "q184", "q90", "q94", "q41", "q98", "q46", "q36",
           "q131", "q1", "q205", "q32", "q43", "q165"}


def split_registry(src):
    start = src.index("  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(")
    end = src.index("\n  )\n", start)
    body = src[start:end]
    heads = list(re.finditer(r'^    "(q\d+_\w+)" ->', body, re.M))
    for i, m in enumerate(heads):
        stop = heads[i + 1].start() if i + 1 < len(heads) else len(body)
        yield m.group(1), body[m.start():stop]


def helpers(src):
    """SparkEntry's private helpers: name -> body text."""
    out = {}
    defs = list(re.finditer(r"^  (?:private )?(?:lazy )?(?:def|val) (\w+)", src, re.M))
    for i, m in enumerate(defs):
        stop = defs[i + 1].start() if i + 1 < len(defs) else len(src)
        if m.group(1) not in ("queries", "oracleSql"):
            out[m.group(1)] = src[m.start():stop]
    return out


def expand(text, helper_bodies, seen=None):
    """The definition text plus the bodies of every helper it reaches."""
    seen = set() if seen is None else seen
    parts = [text]
    for name, body in helper_bodies.items():
        if name not in seen and re.search(r"\b%s\b" % re.escape(name), text):
            seen.add(name)
            parts.append(expand(body, helper_bodies, seen))
    return "\n".join(parts)


def main():
    src = SRC.read_text()
    hb = helpers(src)
    rows = []
    for name, text in split_registry(src):
        full = expand(text, hb)
        side = "curation" if re.search(TEXT_TABLES, full) else "analytics"
        family = next((f for f, pat in FAMILIES if re.search(pat, text)), None) \
            or next((f for f, pat in FAMILIES if re.search(pat, full)), "tpch")
        rows.append([name, side, family])
    rows.sort(key=lambda r: int(r[0][1:].split("_")[0]))
    by_fam = {}
    for r in rows:
        by_fam.setdefault((r[1], r[2]), []).append(r)
    measured = set()
    for (side, _), members in by_fam.items():
        if side == "analytics":
            rest = [r for r in members if r[0].split("_")[0] not in TARGETS]
            measured.update(r[0] for r in rest[:1])
    print("query\tside\tfamily\tmeasured")
    for name, side, fam in rows:
        m = name.split("_")[0] in TARGETS or name in measured
        print(f"{name}\t{side}\t{fam}\t{int(m)}")


if __name__ == "__main__":
    sys.exit(main())
