"""Config + CLI tests (reference tests/test_configuration.py +
test_scribedb.py shape tests, SURVEY.md §5.1-2)."""

from __future__ import annotations

import pytest

from scribedb_spark.config import load_config, run_compare_config


GOOD_YAML = """
compare:
  source:
    db: {{type: parquet, path: "{sf}/orders.parquet"}}
    name: src
  target:
    db: {{type: parquet, path: "{sf}/orders.parquet"}}
    name: tgt
  keys: [o_orderkey]
"""

BAD_SHAPE_YAML = """
compare:
  source:
    db: {type: teradata, host: nope}
  target:
    db: {type: parquet, path: /x}
"""


def test_missing_file():
    with pytest.raises(FileNotFoundError):
        load_config("/nonexistent/config.yaml")


def test_empty_yaml(tmp_path):
    p = tmp_path / "empty.yaml"
    p.write_text("")
    with pytest.raises(ValueError):
        load_config(str(p))


def test_malformed_shape(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text(BAD_SHAPE_YAML)
    with pytest.raises(Exception):  # pydantic ValidationError
        load_config(str(p))


def test_unknown_hash_mode_rejected(tmp_path):
    """A typo'd hash_mode must not quietly select the unordered
    report."""
    from pydantic import ValidationError

    p = tmp_path / "bad.yaml"
    p.write_text(GOOD_YAML.format(sf="/x") + "  hash_mode: chain\n")
    with pytest.raises(ValidationError, match="hash_mode"):
        load_config(str(p))


def test_config_roundtrip_compare(spark, sf_dir, tmp_path):
    p = tmp_path / "cmp.yaml"
    p.write_text(GOOD_YAML.format(sf=sf_dir))
    cfg = load_config(str(p))
    assert cfg.compare.max_delta == 0  # default
    res = run_compare_config(spark, cfg)
    assert res.equal and res.diff_count == 0


def test_cli_end_to_end(spark, sf_dir, tmp_path, capsys):
    from scribedb_spark.cli import main

    p = tmp_path / "cmp.yaml"
    p.write_text(GOOD_YAML.format(sf=sf_dir))
    rc = main(["-f", str(p)])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out


def test_cli_detects_diff(spark, sf_dir, tmp_path, capsys):
    from scribedb_spark.cli import main
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt", f"{mut}\"}}\n    name: tgt"
        )
    )
    rc = main(["-f", str(p), "--search-diff"])
    out = capsys.readouterr().out
    assert rc == 1 and "different" in out and "src:" in out and "tgt:" in out


def test_config_golden_model_dump(tmp_path):
    """Golden-shape test (reference tests/test_configuration.py:29-34
    asserts exact YAML->JSON equality; here: exact parsed model dump)."""
    p = tmp_path / "g.yaml"
    p.write_text(
        """
compare:
  source:
    db: {type: parquet, path: /data/a.parquet}
    name: src
  target:
    db: {type: sql, qry: "SELECT 1 AS x"}
    name: tgt
  keys: [x]
  max_delta: 3
"""
    )
    cfg = load_config(str(p))
    assert cfg.model_dump() == {
        "compare": {
            "source": {
                "db": {"type": "parquet", "path": "/data/a.parquet", "columns": None},
                "name": "src",
            },
            "target": {"db": {"type": "sql", "qry": "SELECT 1 AS x"}, "name": "tgt"},
            "keys": ["x"],
            "sort_keys": [],
            "bucket_rows": 100000,
            "hash_mode": "unordered",
            "distinct": False,
            "max_delta": 3,
            "row_limit": 50,
            "n_chunks": 64,
            "strict_schema": False,
        }
    }


def test_cli_hash_mode_prints_chunk_report(spark, sf_dir, tmp_path, capsys):
    """--mode hash prints the reference's per-chunk console lines
    (i/n OK|NOK hash (ms) pct%, reference main.py:229-247)."""
    import re

    from scribedb_spark.cli import main

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir)
        + "  sort_keys: [o_orderkey]\n  bucket_rows: 500\n"
    )
    rc = main(["-f", str(p), "--mode", "hash"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if re.match(r"^\d+/\d+ (OK|NOK) ", l)]
    assert len(lines) >= 2  # sf0.001 orders = 1500 rows / 500 per chunk
    assert all(" OK " in l for l in lines)
    assert lines[-1].endswith("100%")
    assert re.search(r"\(\d+ ms\)", lines[0])


def test_cli_hash_mode_chunk_nok(spark, sf_dir, tmp_path, capsys):
    """A mutated row must flip exactly its own chunk to NOK."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribedb_spark.cli import main

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt", f"{mut}\"}}\n    name: tgt"
        )
        + "  sort_keys: [o_orderkey]\n  bucket_rows: 500\n"
    )
    rc = main(["-f", str(p), "--mode", "hash"])
    out = capsys.readouterr().out
    assert rc == 1
    ok = [l for l in out.splitlines() if re.match(r"^\d+/\d+ OK ", l)]
    nok = [l for l in out.splitlines() if re.match(r"^\d+/\d+ NOK ", l)]
    assert len(nok) == 1 and "!=" in nok[0]
    assert len(ok) >= 1


def test_scale_conf_arithmetic():
    """scale_conf sizes the shuffle for ~128 MB partitions with a
    2-tasks-per-core floor, and returns only string values (Spark
    conf contract)."""
    from scribedb_spark.session import TARGET_PARTITION_BYTES, scale_conf

    # 100 TB / 1000 executors x 4 cores: partition count driven by
    # shuffle volume (50 TB / 128 MB = 409600), not the core floor
    conf = scale_conf(100 * 1024**4)
    assert int(conf["spark.sql.shuffle.partitions"]) == 409600
    assert int(conf["spark.sql.shuffle.partitions"]) >= 2 * 4000
    # tiny input: the per-core floor dominates
    small = scale_conf(1024**3, executors=2, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) == 16
    for v in conf.values():
        assert isinstance(v, str)
    assert int(conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == (
        TARGET_PARTITION_BYTES
    )
    import pytest

    with pytest.raises(ValueError):
        scale_conf(0)


def test_cli_attribute_prints_changed_columns(spark, sf_dir, tmp_path, capsys):
    """--attribute: per-key change lines name the exact differing
    columns, e.g. `changed: o_orderkey=7 [o_totalprice]`."""
    from scribedb_spark.cli import main
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    df = df[df["o_orderkey"] != 33]  # becomes 'removed'
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt", f"{mut}\"}}\n    name: tgt"
        )
    )
    rc = main(["-f", str(p), "--attribute", "--mode", "hash"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "changed: o_orderkey=7 [o_totalprice]" in out
    assert "removed: o_orderkey=33" in out


def test_cli_out_writes_parquet_reports(spark, sf_dir, tmp_path, capsys):
    """--out: diff/, chunks/ and changed_cols/ land as parquet — the
    machine interface the next run's fingerprint_delta reads."""
    from scribedb_spark.cli import main
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt", f"{mut}\"}}\n    name: tgt"
        )
    )
    out = tmp_path / "report"
    rc = main(["-f", str(p), "--mode", "hash", "--out", str(out)])
    capsys.readouterr()
    assert rc == 1
    diff = spark.read.parquet(str(out / "diff"))
    assert diff.count() == 2  # src+tgt version of the mutated row
    chunks = spark.read.parquet(str(out / "chunks"))
    assert chunks.filter("status = 'NOK'").count() >= 1
    changed = spark.read.parquet(str(out / "changed_cols"))
    rows = changed.collect()
    assert len(rows) == 1 and rows[0]["changed_cols"] == "o_totalprice"


def test_config_strict_schema_rejects_renamed_column(spark, sf_dir, tmp_path):
    """strict_schema in the YAML reaches the engine: a renamed column
    passes the reference-style arity check but fails strict mode."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/orders.parquet").rename_columns(
        ["o_orderkey", "o_custkey", "o_orderstatus", "RENAMED",
         "o_orderdate", "o_orderpriority"]
    )
    mut = tmp_path / "orders_renamed.parquet"
    pq.write_table(t, str(mut))

    base = GOOD_YAML.format(sf=sf_dir).replace(
        f"{sf_dir}/orders.parquet\"}}\n    name: tgt", f"{mut}\"}}\n    name: tgt"
    )
    p = tmp_path / "cmp.yaml"
    p.write_text(base + "  strict_schema: true\n")
    cfg = load_config(str(p))
    assert cfg.compare.strict_schema
    with pytest.raises(ValueError, match="schema"):
        run_compare_config(spark, cfg)
    # without strict mode the same spec runs (arity matches)
    p.write_text(base)
    run_compare_config(spark, load_config(str(p)))


def _hybrid_cfg(sf_dir, qry):
    return {
        "compare": {
            "source": {
                "db": {
                    "type": "dbapi",
                    "kind": "duckdb",
                    "database": ":memory:",
                    "qry": qry,
                    "init": [
                        "create view nation as select * from "
                        f"read_parquet('{sf_dir}/nation.parquet')"
                    ],
                },
                "name": "remote",
            },
            "target": {
                "db": {
                    "type": "parquet",
                    "path": f"{sf_dir}/nation.parquet",
                    "columns": ["n_nationkey", "n_name"],
                },
                "name": "spark",
            },
            "sort_keys": ["n_nationkey"],
            "bucket_rows": 10,
        }
    }


_HYBRID_QRY = (
    "select '(' || concat_ws(',', cast(n_nationkey as varchar), n_name) || ')' "
    "as v from nation order by n_nationkey"
)


def test_cli_remote_hybrid_ok_and_nok(spark, sf_dir, tmp_path, capsys):
    """--mode remote-hybrid drives compat.hybrid_compare from YAML:
    per-chunk OK report + exit 0 on equal; a remote mutation flips
    the owning chunk and exits 1. The reference's headline WAN
    scenario end-to-end from the CLI (reference example.md:205-252)."""
    import yaml

    from scribedb_spark.cli import main

    p = tmp_path / "hybrid.yaml"
    p.write_text(yaml.safe_dump(_hybrid_cfg(sf_dir, _HYBRID_QRY)))
    rc = main(["-f", str(p), "--mode", "remote-hybrid"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out and "1/3 OK" in out

    mut = _HYBRID_QRY.replace(
        "n_name", "case when n_nationkey = 3 then 'XX' else n_name end"
    )
    p.write_text(yaml.safe_dump(_hybrid_cfg(sf_dir, mut)))
    rc = main(["-f", str(p), "--mode", "remote-hybrid"])
    out = capsys.readouterr().out
    assert rc == 1 and "different" in out and "NOK" in out


def test_dbapi_source_rejected_outside_hybrid(spark, sf_dir, tmp_path):
    """A dbapi side never materializes rows into Spark — plain modes
    must refuse it with a pointer to remote-hybrid, not crash."""
    import yaml

    from scribedb_spark.cli import main

    p = tmp_path / "hybrid.yaml"
    p.write_text(yaml.safe_dump(_hybrid_cfg(sf_dir, _HYBRID_QRY)))
    with pytest.raises(ValueError, match="remote-hybrid"):
        main(["-f", str(p), "--mode", "full"])


def test_cli_merkle_mode_locates_chunk(spark, sf_dir, tmp_path, capsys):
    """--mode merkle: identical sides print the identical verdict
    (rc 0); one mutated row prints exactly its own chunk as NOK
    (rc 1) — the sparse-diff fast path end to end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribedb_spark.cli import main

    p = tmp_path / "cmp.yaml"
    p.write_text(
        GOOD_YAML.format(sf=sf_dir)
        + "  sort_keys: [o_orderkey]\n  bucket_rows: 500\n"
    )
    rc = main(["-f", str(p), "--mode", "merkle"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt",
            f"{mut}\"}}\n    name: tgt",
        )
        + "  sort_keys: [o_orderkey]\n  bucket_rows: 500\n"
    )
    rc = main(["-f", str(p), "--mode", "merkle"])
    out = capsys.readouterr().out
    assert rc == 1
    nok = [l for l in out.splitlines() if l.startswith("chunk ")]
    assert len(nok) == 1 and "chunk 0 NOK" in nok[0] and "!=" in nok[0]


_KEYED_QRY = (
    "select n_nationkey as k, "
    "'(' || concat_ws(',', cast(n_nationkey as varchar), n_name) || ')' as v "
    "from nation"
)


def test_cli_remote_keyed_ok_and_nok(spark, sf_dir, tmp_path, capsys):
    """--mode remote-keyed drives compat.keyed_hybrid_compare from
    YAML: one unordered remote aggregation, per-keyed-chunk report,
    exit 0 on equal; a remote mutation exits 1. No sort_keys needed —
    the config only names the chunking key."""
    import yaml

    from scribedb_spark.cli import main

    cfg = _hybrid_cfg(sf_dir, _KEYED_QRY)
    cfg["compare"]["keys"] = ["n_nationkey"]
    cfg["compare"]["n_chunks"] = 8
    del cfg["compare"]["sort_keys"]
    p = tmp_path / "keyed.yaml"
    p.write_text(yaml.safe_dump(cfg))
    rc = main(["-f", str(p), "--mode", "remote-keyed"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out and "OK" in out

    mut = _KEYED_QRY.replace(
        "n_name)", "case when n_nationkey = 3 then 'XX' else n_name end)"
    )
    cfg = _hybrid_cfg(sf_dir, mut)
    cfg["compare"]["keys"] = ["n_nationkey"]
    cfg["compare"]["n_chunks"] = 8
    p.write_text(yaml.safe_dump(cfg))
    rc = main(["-f", str(p), "--mode", "remote-keyed"])
    out = capsys.readouterr().out
    assert rc == 1 and "different" in out and "NOK" in out


def test_cli_colfp_mode_locates_column(spark, sf_dir, tmp_path, capsys):
    """--mode colfp: identical sides report every column OK (rc 0);
    mutating ONE column flags exactly that column NOK (rc 1) — the
    which-attribute drill end to end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribedb_spark.cli import main

    p = tmp_path / "cmp.yaml"
    p.write_text(GOOD_YAML.format(sf=sf_dir))
    rc = main(["-f", str(p), "--mode", "colfp"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out
    assert all(l.endswith("OK") for l in out.splitlines() if l.startswith("col "))

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_orderpriority"] = "9-MUTATED"
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt",
            f"{mut}\"}}\n    name: tgt",
        )
    )
    rc = main(["-f", str(p), "--mode", "colfp"])
    out = capsys.readouterr().out
    assert rc == 1
    nok = [l for l in out.splitlines() if " NOK " in l]
    assert len(nok) == 1 and nok[0].startswith("col o_orderpriority")
    assert "(1 columns)" in out


def test_colfp_requires_keys(spark, sf_dir, tmp_path):
    from scribedb_spark.config import load_config, run_colfp_config

    p = tmp_path / "cmp.yaml"
    p.write_text(GOOD_YAML.format(sf=sf_dir).replace("  keys: [o_orderkey]\n", ""))
    with pytest.raises(ValueError, match="keys"):
        run_colfp_config(spark, load_config(str(p)))


def test_cli_remote_colfp_ok_and_nok(spark, sf_dir, tmp_path, capsys):
    """--mode remote-colfp: the WAN column drill from YAML — one
    remote aggregation returns every column's fingerprint; equal
    sides exit 0, a remote one-cell mutation flags exactly its
    column and exits 1."""
    import yaml

    from scribedb_spark.cli import main

    def cfg(qry):
        c = _hybrid_cfg(sf_dir, qry)
        c["compare"]["source"]["db"]["cols"] = ["n_name", "n_regionkey"]
        c["compare"]["target"]["db"]["columns"] = [
            "n_nationkey",
            "n_name",
            "n_regionkey",
        ]
        c["compare"]["keys"] = ["n_nationkey"]
        del c["compare"]["sort_keys"]
        return c

    q = "select n_nationkey, n_name, n_regionkey from nation"
    p = tmp_path / "colfp.yaml"
    p.write_text(yaml.safe_dump(cfg(q)))
    rc = main(["-f", str(p), "--mode", "remote-colfp"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out
    assert out.count("col ") == 2

    mut = q.replace(
        "n_name,", "case when n_nationkey = 3 then 'XX' else n_name end as n_name,"
    )
    p.write_text(yaml.safe_dump(cfg(mut)))
    rc = main(["-f", str(p), "--mode", "remote-colfp"])
    out = capsys.readouterr().out
    assert rc == 1 and "different. (1 columns)" in out
    nok = [l for l in out.splitlines() if " NOK " in l]
    assert len(nok) == 1 and nok[0].startswith("col n_name")


def test_cli_remote_keyed_composite_key(spark, sf_dir, tmp_path, capsys):
    """--mode remote-keyed with a COMPOSITE key list: both sides
    route chunks by the chr(2)-joined key concat (round-7 parity
    with remote-colfp), so a multi-key YAML compares cleanly and a
    remote mutation still localizes to its chunk."""
    import yaml

    from scribedb_spark.cli import main

    qry = (
        "select cast(n_nationkey as varchar) || chr(2) || "
        "cast(n_regionkey as varchar) as k, "
        "'(' || concat_ws(',', cast(n_nationkey as varchar), "
        "cast(n_regionkey as varchar), n_name) || ')' as v from nation"
    )
    cfg = _hybrid_cfg(sf_dir, qry)
    cfg["compare"]["target"]["db"]["columns"] = [
        "n_nationkey", "n_regionkey", "n_name",
    ]
    cfg["compare"]["keys"] = ["n_nationkey", "n_regionkey"]
    cfg["compare"]["n_chunks"] = 8
    del cfg["compare"]["sort_keys"]
    p = tmp_path / "keyed_comp.yaml"
    p.write_text(yaml.safe_dump(cfg))
    rc = main(["-f", str(p), "--mode", "remote-keyed"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out, out

    mut = qry.replace(
        "n_name)", "case when n_nationkey = 3 then 'XX' else n_name end)"
    )
    cfg = _hybrid_cfg(sf_dir, mut)
    cfg["compare"]["target"]["db"]["columns"] = [
        "n_nationkey", "n_regionkey", "n_name",
    ]
    cfg["compare"]["keys"] = ["n_nationkey", "n_regionkey"]
    cfg["compare"]["n_chunks"] = 8
    p.write_text(yaml.safe_dump(cfg))
    rc = main(["-f", str(p), "--mode", "remote-keyed"])
    out = capsys.readouterr().out
    assert rc == 1 and "NOK" in out, out


def test_cli_iblt_mode_recovers_keys(spark, sf_dir, tmp_path, capsys):
    """--mode iblt: identical sides -> identical verdict (rc 0); one
    mutated + one deleted row -> exactly those keys recovered with
    their change classes from the constant-size sketch (rc 1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribedb_spark.cli import main

    p = tmp_path / "cmp.yaml"
    p.write_text(GOOD_YAML.format(sf=sf_dir) + "  sort_keys: [o_orderkey]\n")
    rc = main(["-f", str(p), "--mode", "iblt"])
    out = capsys.readouterr().out
    assert rc == 0 and "identicals" in out

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    df = t.to_pandas()
    df.loc[df["o_orderkey"] == 7, "o_totalprice"] += 1
    df = df[df["o_orderkey"] != 32]
    mut = tmp_path / "orders_mut.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(mut))
    p.write_text(
        GOOD_YAML.format(sf=sf_dir).replace(
            f"{sf_dir}/orders.parquet\"}}\n    name: tgt",
            f"{mut}\"}}\n    name: tgt",
        )
        + "  sort_keys: [o_orderkey]\n"
    )
    rc = main(["-f", str(p), "--mode", "iblt"])
    out = capsys.readouterr().out
    assert rc == 1
    keys = sorted(
        l for l in out.splitlines() if l.startswith("key ")
    )
    assert keys == ["key 32 removed", "key 7 changed"]


def test_cli_iblt_mode_validates_preconditions(spark, sf_dir, tmp_path):
    """--mode iblt fails LOUDLY (never decodes garbage) on each
    documented precondition violation: non-integral key, column-set
    mismatch between sides, and a duplicate key (round-9 advice fix:
    these previously misclassified or XOR-decoded junk silently)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scribedb_spark.config import load_config, run_iblt_config

    def run(yaml_text):
        p = tmp_path / "cfg.yaml"
        p.write_text(yaml_text)
        return run_iblt_config(spark, load_config(str(p)))

    base = GOOD_YAML.format(sf=sf_dir)
    with pytest.raises(ValueError, match="integral sort_key"):
        run(base + "  sort_keys: [o_orderpriority]\n")

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    dropped = tmp_path / "orders_dropcol.parquet"
    pq.write_table(t.drop_columns(["o_orderpriority"]), str(dropped))
    with pytest.raises(ValueError, match="same columns"):
        run(
            base.replace(
                f'{sf_dir}/orders.parquet"}}\n    name: tgt',
                f'{dropped}"}}\n    name: tgt',
            )
            + "  sort_keys: [o_orderkey]\n"
        )

    df = t.to_pandas()
    dup = tmp_path / "orders_dup.parquet"
    pq.write_table(
        pa.Table.from_pandas(
            __import__("pandas").concat([df, df.head(3)]),
            preserve_index=False,
        ),
        str(dup),
    )
    with pytest.raises(ValueError, match="unique sort_key"):
        run(
            base.replace(
                f'{sf_dir}/orders.parquet"}}\n    name: src',
                f'{dup}"}}\n    name: src',
            )
            + "  sort_keys: [o_orderkey]\n"
        )

    # NULL key: count()/count_distinct() skip NULLs, so without the
    # explicit row-count guard a NULL sort_key sails through and the
    # decode stalls with a misleading capacity error (round-10 advice)
    dfn = df.head(100).copy()
    dfn.loc[dfn.index[:2], "o_orderkey"] = None
    nulled = tmp_path / "orders_nullkey.parquet"
    pq.write_table(
        pa.Table.from_pandas(dfn, preserve_index=False).cast(
            t.schema
        ),
        str(nulled),
    )
    with pytest.raises(ValueError, match="non-NULL sort_key"):
        run(
            base.replace(
                f'{sf_dir}/orders.parquet"}}\n    name: src',
                f'{nulled}"}}\n    name: src',
            )
            + "  sort_keys: [o_orderkey]\n"
        )
