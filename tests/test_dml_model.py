"""Model-based randomized DML walks over one keyed table.

Every mutation (append / upsert / DV + rewrite delete / DV + rewrite
update / compact / rebucket) is mirrored on a driver-side dict model;
after EVERY step ``read_table`` must equal the model exactly. This
covers interleavings no example test enumerates — the round-6
cross-DV contamination bug (delete -> re-insert -> second DV in the
same bucket silently dropping the re-inserted row) was exactly such a
sequence, so the upsert step deliberately draws from recently-deleted
keys. Snapshots are captured at random points and re-read via
``version=`` at the end, asserting time travel holds across the whole
mixed history (reference:tests/test_sql.py exercises each verb once;
this is the composition torture test the reference never had).
"""

from __future__ import annotations

import random

import pytest


def _rows(keys):
    return [(k, k * 0.25, f"s{k}") for k in keys]


def _mk_df(spark, rows):
    return spark.createDataFrame(rows, schema="k bigint, v double, s string")


def _read(catalog, t):
    return {
        r.k: (r.v, r.s) for r in catalog.read_table(t).collect()
    }


@pytest.mark.full_tier
@pytest.mark.parametrize("seed", [7, 23])
def test_random_dml_walk_matches_model(spark, catalog, seed):
    rng = random.Random(seed)
    t = f"walk_{seed}"
    init = _rows(range(0, 40))
    catalog.to_table(_mk_df(spark, init), t, keys=["k"], num_buckets=4)
    model = {k: (v, s) for k, v, s in init}
    deleted: set[int] = set()
    next_fresh = 1000
    snapshots: list[tuple[int, dict]] = []

    ops = (
        ["append"] * 3 + ["upsert"] * 4 + ["delete"] * 4
        + ["update"] * 4 + ["compact", "rebucket"]
    )
    for step in range(22):
        op = rng.choice(ops)
        if op == "append":
            n = rng.randint(1, 8)
            keys = list(range(next_fresh, next_fresh + n))
            next_fresh += n
            catalog.to_table(
                _mk_df(spark, _rows(keys)), t, keys=["k"], how="append"
            )
            for k, v, s in _rows(keys):
                model[k] = (v, s)
        elif op == "upsert":
            # draw from live keys, RECENTLY DELETED keys (the re-insert
            # path that interacts with live DVs), and fresh keys
            pool = (
                rng.sample(sorted(model), min(len(model), 6))
                + rng.sample(sorted(deleted), min(len(deleted), 3))
                + [next_fresh]
            )
            next_fresh += 1
            rows = [(k, k * 0.25 + 2.0, f"u{k}") for k in pool]
            catalog.to_table(_mk_df(spark, rows), t, keys=["k"], how="upsert")
            for k, v, s in rows:
                model[k] = (v, s)
                deleted.discard(k)
        elif op == "delete":
            m, r = rng.choice([3, 5, 7]), rng.randint(0, 2)
            strat = rng.choice(["dv", "rewrite", "auto"])
            n = catalog.delete_rows(t, f"k % {m} = {r}", strategy=strat)
            hit = [k for k in model if k % m == r]
            assert n == len(hit)
            for k in hit:
                del model[k]
                deleted.add(k)
        elif op == "update":
            strat = rng.choice(["dv", "rewrite", "auto"])
            if rng.random() < 0.5:
                m, r = rng.choice([2, 4]), rng.randint(0, 1)
                pred = f"k % {m} = {r}"
                hit = [k for k in model if k % m == r]
            else:
                cut = rng.choice([5.0, 20.0, 200.0])
                pred = f"v < {cut}"
                hit = [k for k, (v, _) in model.items() if v < cut]
            n = catalog.update_rows(
                t, pred, {"v": "v + 1.5", "s": "upper(s)"}, strategy=strat
            )
            assert n == len(hit)
            for k in hit:
                v, s = model[k]
                model[k] = (v + 1.5, s.upper())
        elif op == "compact":
            # vacuum=False keeps every snapshot plannable for the
            # time-travel sweep below (retention has its own tests)
            catalog.compact(t, vacuum=False)
        elif op == "rebucket":
            catalog.rebucket_table(t, rng.choice([2, 4, 8]))

        assert _read(catalog, t) == model, f"seed={seed} step={step} op={op}"
        if rng.random() < 0.25:
            snapshots.append((catalog._manifest(t)["v"], dict(model)))

    # time travel across the whole mixed history (no vacuum ran, so
    # every captured snapshot must still be plannable and exact)
    for ver, snap in snapshots:
        got = {
            r.k: (r.v, r.s)
            for r in catalog.read_table(t, version=ver).collect()
        }
        assert got == snap, f"seed={seed} version={ver}"


@pytest.mark.full_tier
@pytest.mark.parametrize("seed", [11, 37, 59])
def test_random_ddl_dml_walk_matches_model(spark, catalog, tmp_path, seed):
    """The round-8/9 extension of the walk: MERGE clauses (incl. WHEN
    NOT MATCHED BY SOURCE), rename_column, add/drop column (schema
    evolution both ways), restore_table, cluster_table (ALTER CLUSTER
    BY mid-walk), COPY INTO (file-ledger idempotence under every
    interleaving), and a table-wide GENERATED column (g = v * 2,
    derived in the model from v after every verb — any verb that
    changes v without recomputing g breaks the very next check)
    interleaved with the core DML — plus, from r10, the streaming
    foreachBatch sink (micro-batch MERGE + a fresh-checkpoint replay
    that the txn ledger must no-op) and the namespace surface (clone
    into a schema, list, read-back vs model, drop) — 52 steps x 3
    seeds, model-checked after every one. The round-6 cross-DV bug
    and the round-9 two-driver lost update were both interleaving
    bugs no example test covered; schema changes x restore x merge x
    generated x streaming-txn is the next such space. Rows are
    modeled as {col: value} dicts so renames/drops/restores can
    reshape the schema mid-walk."""
    rng = random.Random(seed)
    t = f"ddlwalk_{seed}"
    vcol, scol = "v", "s"
    extras: list[str] = []
    model = {k: {vcol: k * 0.25, scol: f"s{k}"} for k in range(0, 30)}
    catalog.to_table(
        _mk_df(spark, [(k, r[vcol], r[scol]) for k, r in model.items()]),
        t, keys=["k"], num_buckets=4, generated={"g": "v * 2"},
    )
    deleted: set[int] = set()
    next_fresh = 1000
    name_seq = 0
    snapshots: list[tuple[int, dict, str, str, list]] = []

    def cols() -> list[str]:
        return [vcol, scol] + extras

    def df_for(rows: "dict[int, dict]"):
        schema = "k bigint, " + ", ".join(
            f"{c} {'double' if c == vcol else 'string'}" for c in cols()
        )
        data = [
            tuple([k] + [r.get(c) for c in cols()])
            for k, r in rows.items()
        ]
        return spark.createDataFrame(data, schema=schema)

    def check(step, op):
        got = {}
        for r in catalog.read_table(t).collect():
            d = r.asDict()
            k = d.pop("k")
            got[k] = d
        want = {
            k: {
                **{c: r.get(c) for c in cols()},
                # the generated column is DERIVED, never stored in the
                # model: every verb must have kept it = v * 2
                "g": (
                    r.get(vcol) * 2 if r.get(vcol) is not None else None
                ),
            }
            for k, r in model.items()
        }
        assert got == want, f"seed={seed} step={step} op={op}"

    copy_seq = 0
    stream_seq = 0
    ops = (
        ["append"] * 2 + ["upsert"] * 3 + ["delete"] * 3 + ["update"] * 3
        + ["merge"] * 4 + ["rename"] * 2 + ["addcol"] * 2 + ["dropcol"] * 2
        + ["restore"] * 2 + ["compact"] + ["cluster"] + ["copy"] * 2
        + ["streamsink"] * 2 + ["namespace"]
    )
    for step in range(52):
        op = rng.choice(ops)
        if op == "append":
            n = rng.randint(1, 6)
            keys = range(next_fresh, next_fresh + n)
            next_fresh += n
            rows = {
                k: {
                    **{c: None for c in extras},
                    vcol: k * 0.25, scol: f"s{k}",
                }
                for k in keys
            }
            catalog.to_table(df_for(rows), t, keys=["k"], how="append")
            model.update(rows)
        elif op == "upsert":
            pool = (
                rng.sample(sorted(model), min(len(model), 5))
                + rng.sample(sorted(deleted), min(len(deleted), 2))
                + [next_fresh]
            )
            next_fresh += 1
            rows = {
                k: {
                    **{c: f"e{k}" for c in extras},
                    vcol: k * 0.25 + 2.0, scol: f"u{k}",
                }
                for k in pool
            }
            catalog.to_table(df_for(rows), t, keys=["k"], how="upsert")
            model.update(rows)
            deleted.difference_update(pool)
        elif op == "delete":
            m, r = rng.choice([3, 5]), rng.randint(0, 2)
            n = catalog.delete_rows(
                t, f"k % {m} = {r}",
                strategy=rng.choice(["dv", "rewrite", "auto"]),
            )
            hit = [k for k in model if k % m == r]
            assert n == len(hit)
            for k in hit:
                del model[k]
                deleted.add(k)
        elif op == "update":
            cut = rng.choice([5.0, 20.0, 300.0])
            n = catalog.update_rows(
                t, f"{vcol} < {cut}",
                {vcol: f"{vcol} + 1.5", scol: f"upper({scol})"},
                strategy=rng.choice(["dv", "rewrite", "auto"]),
            )
            hit = [k for k, r in model.items() if r[vcol] < cut]
            assert n == len(hit)
            for k in hit:
                model[k][vcol] += 1.5
                model[k][scol] = (
                    model[k][scol].upper()
                    if model[k][scol] is not None
                    else None
                )
        elif op == "merge":
            pool = (
                rng.sample(sorted(model), min(len(model), 5))
                + rng.sample(sorted(deleted), min(len(deleted), 2))
                + [next_fresh]
            )
            next_fresh += 1
            src = {
                k: {"sv": round(k * 0.5, 2), "flag": rng.random() < 0.3}
                for k in pool
            }
            src_df = spark.createDataFrame(
                [(k, r["sv"], r["flag"]) for k, r in src.items()],
                schema=f"k bigint, {vcol} double, flag boolean",
            )
            insert = rng.random() < 0.7
            bs_mode = rng.choice(["none", "del", "upd"])
            cut = rng.choice([3.0, 50.0])
            pre = set(model)  # matched/not-matched decided pre-merge
            catalog.merge_table(
                src_df, t,
                when_matched_update={vcol: f"t.{vcol} + s.{vcol}"},
                when_matched_delete="s.flag",
                when_not_matched_insert=insert,
                when_not_matched_by_source_delete=(
                    f"t.{vcol} > {cut}" if bs_mode == "del" else None
                ),
                when_not_matched_by_source_update=(
                    {scol: f"concat(t.{scol}, '!')"}
                    if bs_mode == "upd"
                    else None
                ),
            )
            for k in list(model):
                if k in src:
                    if src[k]["flag"]:
                        del model[k]
                        deleted.add(k)
                    else:
                        model[k][vcol] += src[k]["sv"]
                elif bs_mode == "del" and (
                    model[k][vcol] is not None and model[k][vcol] > cut
                ):
                    del model[k]
                    deleted.add(k)
                elif bs_mode == "upd":
                    model[k][scol] = (
                        model[k][scol] + "!"
                        if model[k][scol] is not None
                        else None
                    )
            if insert:
                # NOT MATCHED = absent from the target BEFORE the
                # merge; a matched-then-deleted key never re-inserts
                for k, r in src.items():
                    if k not in pre:
                        model[k] = {
                            **{c: None for c in cols()}, vcol: r["sv"],
                        }
                        deleted.discard(k)
        elif op == "rename":
            name_seq += 1
            new = f"{scol}_r{name_seq}"
            catalog.rename_column(t, scol, new)
            for r in model.values():
                r[new] = r.pop(scol, None)
            scol = new
        elif op == "addcol":
            name_seq += 1
            c = f"x{name_seq}"
            pool = rng.sample(sorted(model), min(len(model), 4))
            add_df = spark.createDataFrame(
                [(k, f"n{k}") for k in pool],
                schema=f"k bigint, {c} string",
            )
            catalog.to_table(
                add_df, t, keys=["k"], how="upsert", add_new_columns=True
            )
            extras.append(c)
            for k, r in model.items():
                r[c] = f"n{k}" if k in pool else None
        elif op == "dropcol":
            if not extras:
                continue
            c = extras.pop(rng.randrange(len(extras)))
            catalog.drop_column(t, c)
            for r in model.values():
                r.pop(c, None)
        elif op == "restore":
            if not snapshots:
                continue
            ver, snap, sv, ss, sx = rng.choice(snapshots)
            catalog.restore_table(t, version=ver)
            model = {k: dict(r) for k, r in snap.items()}
            vcol, scol, extras = sv, ss, list(sx)
        elif op == "compact":
            catalog.compact(t, vacuum=False)
        elif op == "cluster":
            # ALTER CLUSTER BY mid-walk: a layout change must never
            # change answers; rewrite=True relays every live segment
            catalog.cluster_table(
                t, ["k"], rewrite=rng.random() < 0.5
            )
        elif op == "copy":
            # COPY INTO a staged directory of fresh keys, then copy
            # the SAME directory again — the file ledger must make the
            # second call a no-op under every interleaving (incl.
            # post-restore: the ledger carries through every commit)
            copy_seq += 1
            n = rng.randint(1, 5)
            keys = range(next_fresh, next_fresh + n)
            next_fresh += n
            rows = {
                k: {
                    **{c: None for c in extras},
                    vcol: k * 0.25, scol: f"c{k}",
                }
                for k in keys
            }
            stage = str(tmp_path / f"copy_{seed}_{copy_seq}")
            df_for(rows).coalesce(1).write.parquet(stage)
            out = catalog.copy_into(t, stage, how="append")
            assert out["rows_loaded"] == n and out["files_skipped"] == 0
            model.update(rows)
            again = catalog.copy_into(t, stage, how="append")
            assert again["files_loaded"] == 0 and again["rows_loaded"] == 0
        elif op == "streamsink":
            # r10 extension: the foreachBatch keyed-table sink runs
            # mid-walk — a micro-batch MERGE must compose with every
            # schema/DV/restore state the walk can reach — and then
            # REPLAYS the same source through a FRESH checkpoint with
            # the same txn app id: the table-level txn ledger must
            # no-op the replay (no new commit) under every
            # interleaving, not just in the dedicated streaming tests
            from pandabase_spark.streaming import stream_upsert

            stream_seq += 1
            pool = (
                rng.sample(sorted(model), min(len(model), 3))
                + [next_fresh]
            )
            next_fresh += 1
            rows = {
                k: {
                    **{c: f"st{k}" for c in extras},
                    vcol: k * 0.25 + 5.0, scol: f"st{k}",
                }
                for k in pool
            }
            stage = str(tmp_path / f"stream_{seed}_{stream_seq}")
            src_df = df_for(rows)
            src_df.coalesce(1).write.parquet(stage)
            app = f"walk{seed}_{stream_seq}"
            q = stream_upsert(
                catalog,
                spark.readStream.schema(src_df.schema).parquet(stage),
                t, keys=["k"],
                checkpoint=str(tmp_path / f"ck_{seed}_{stream_seq}"),
                txn_app_id=app,
            )
            q.awaitTermination()
            model.update(rows)
            deleted.difference_update(pool)
            v_before = catalog._manifest(t)["v"]
            q2 = stream_upsert(
                catalog,
                spark.readStream.schema(src_df.schema).parquet(stage),
                t, keys=["k"],
                checkpoint=str(tmp_path / f"ck2_{seed}_{stream_seq}"),
                txn_app_id=app,
            )
            q2.awaitTermination()
            assert catalog._manifest(t)["v"] == v_before, (
                "txn ledger must skip a replayed micro-batch"
            )
        elif op == "namespace":
            # r10 extension: namespace surface mid-walk — a zero-copy
            # clone into a schema must list under that namespace and
            # read back exactly the model at whatever schema shape the
            # walk has reached; dropping it must not disturb the walk
            ns = f"ns{seed}"
            catalog.clone_table(t, "snap", dst_schema=ns)
            assert "snap" in catalog.table_names(schema=ns)
            assert ns in catalog.namespaces()
            got_ns = {}
            for r in catalog.read_table("snap", schema=ns).collect():
                d = r.asDict()
                got_ns[d.pop("k")] = d
            want_ns = {
                k: {
                    **{c: r.get(c) for c in cols()},
                    "g": (
                        r.get(vcol) * 2
                        if r.get(vcol) is not None
                        else None
                    ),
                }
                for k, r in model.items()
            }
            assert got_ns == want_ns, f"seed={seed} namespaced clone"
            catalog.drop_table("snap", schema=ns)

        check(step, op)
        if rng.random() < 0.3:
            snapshots.append((
                catalog._manifest(t)["v"],
                {k: dict(r) for k, r in model.items()},
                vcol, scol, list(extras),
            ))


def test_merge_with_empty_source_is_a_clean_noop(spark, catalog):
    """r14: a MERGE whose source matches nothing (empty CDC batch)
    must return zero metrics and leave the table untouched — the
    observed-metrics node never executes when no bucket is touched,
    which previously surfaced as a py4j assertion from obs.get."""
    from pyspark.sql import functions as F

    df = spark.range(0, 10).selectExpr("id", "id * 1.0 AS v")
    catalog.to_table(df, "m_empty_src", keys=["id"])
    out = catalog.merge_table(
        df.where(F.lit(False)), "m_empty_src",
        when_matched_update=None,
        when_matched_delete=F.lit(True),
        when_not_matched_insert=False,
    )
    assert out == {"updated": 0, "deleted": 0, "inserted": 0}
    assert catalog.read_table("m_empty_src").count() == 10
