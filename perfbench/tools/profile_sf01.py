"""Extract the input distributions the benchmark generator draws from.

Reads a TPC-H-style fixture directory (the sf0.1 one: lineitem, part,
documents, embeddings as `<name>.parquet`) and writes the small summary
the generator needs to `perfbench/profile/sf01.json`:

- baskets: line items per order (histogram), catalogue size, orders;
- part names: the name-word table;
- documents: (lang, source) joint counts, per-lang token counts and
  per-lang length histogram;
- embeddings: per-label centroid, label counts and the residual spread.

Usage: python3 perfbench/tools/profile_sf01.py <fixture-dir> [out.json]
Needs duckdb. The benchmark itself never reads the fixture.
"""
import json
import os
import sys

import duckdb


def main():
    src = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "profile", "sf01.json")
    c = duckdb.connect()

    def t(name):
        return f"'{os.path.join(src, name)}.parquet'"

    orders, products, items = c.sql(
        f"select count(distinct l_orderkey), count(distinct l_partkey), count(*) "
        f"from {t('lineitem')}").fetchone()
    basket_sizes = c.sql(
        f"select n, count(*) from (select count(*) n from {t('lineitem')} "
        f"group by l_orderkey) group by n order by n").fetchall()
    name_words = c.sql(
        f"select w, count(*) from (select unnest(string_split(p_name, ' ')) w "
        f"from {t('part')}) where w <> '' group by w order by w").fetchall()
    docs = c.sql(f"select count(*) from {t('documents')}").fetchone()[0]
    lang_source = c.sql(
        f"select lang, source, count(*) from {t('documents')} "
        f"group by 1, 2 order by 1, 2").fetchall()
    tokens = c.sql(
        f"select lang, w, count(*) from (select lang, "
        f"unnest(string_split(text, ' ')) w from {t('documents')}) "
        f"where w <> '' group by 1, 2 order by 1, 2").fetchall()
    lengths = c.sql(
        f"select lang, len(string_split(text, ' ')) k, count(*) "
        f"from {t('documents')} group by 1, 2 order by 1, 2").fetchall()
    dim = c.sql(f"select max(len(embedding)) from {t('embeddings')}").fetchone()[0]
    label_rows = c.sql(
        f"select label, count(*), "
        + ", ".join(f"avg(embedding[{i + 1}])" for i in range(dim))
        + f" from {t('embeddings')} group by label order by label").fetchall()
    spread = c.sql(
        f"with m as (select label, "
        + ", ".join(f"avg(embedding[{i + 1}]) c{i}" for i in range(dim))
        + f" from {t('embeddings')} group by label) "
        f"select sqrt(avg(" + " + ".join(
            f"pow(e.embedding[{i + 1}] - m.c{i}, 2)" for i in range(dim))
        + f") / {dim}) from {t('embeddings')} e join m using (label)").fetchone()[0]

    profile = {
        "source": "sf0.1",
        "baskets": {
            "orders": orders, "products": products, "line_items": items,
            "size_hist": [[n, k] for n, k in basket_sizes],
        },
        "part_name_words": [[w, k] for w, k in name_words],
        "documents": {
            "docs": docs,
            "lang_source": [[l, s, k] for l, s, k in lang_source],
            "tokens": [[l, w, k] for l, w, k in tokens],
            "lengths": [[l, n, k] for l, n, k in lengths],
            "exact_dup_stride": 625,
            "near_dup_stride": 125,
        },
        "embeddings": {
            "dim": dim,
            "labels": [{"label": r[0], "count": r[1],
                        "centroid": [round(x, 6) for x in r[2:]]}
                       for r in label_rows],
            "residual_sd": round(spread, 6),
        },
    }
    with open(out, "w") as f:
        json.dump(profile, f, separators=(",", ":"))
        f.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
