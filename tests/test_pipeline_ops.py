"""Training-data-pipeline operator tests: dedup family (with planted
near-duplicates), similarity search (ANN recall vs exact), multimodal
plumbing, resumable cell-partitioned join."""

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sophox_spark.manifest import Manifest
from sophox_spark.operators import dedup, multimodal, resumable, similarity, spatial_join
from sophox_spark.plans import route
from sophox_spark.sources import synth


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic docs with planted exact dups and near-dups."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(120):
        words = list(rng.choice(vocab, 60))
        rows.append((i, " ".join(words)))
    # exact dups: 200/201 copy doc 0; 202 copies doc 1
    rows.append((200, rows[0][1]))
    rows.append((201, rows[0][1]))
    rows.append((202, rows[1][1]))
    # near dups: doc 300 = doc 2 with two words changed
    w = rows[2][1].split()
    w[5], w[25] = "zzz1", "zzz2"
    rows.append((300, " ".join(w)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]), "doc_id long, text string"
    ).cache()


class TestDedup:
    def test_exact_groups(self, spark, docs):
        out = dedup.exact_dedup(docs).filter("n_docs > 1").toPandas()
        groups = {tuple(sorted(r.doc_ids)) for r in out.itertuples()}
        assert (0, 200, 201) in groups
        assert (1, 202) in groups
        assert all(g in [(0, 200, 201), (1, 202)] for g in groups)

    def test_minhash_lsh_finds_near_dup(self, spark, docs):
        pairs = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4).toPandas()
        got = {(r.a, r.b) for r in pairs.itertuples()}
        # exact dups always collide on every band; the near-dup pair
        # (2, 300) shares 58/62 shingles -> ~0.87 jaccard; with 4 bands
        # of 2 hashes collision prob ~1-(1-0.87^2)^4 ~ 0.97
        assert (0, 200) in got and (0, 201) in got and (200, 201) in got
        assert (1, 202) in got
        assert (2, 300) in got

    def test_jaccard_verification(self, spark, docs):
        pairs = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4).select("a", "b").distinct()
        verified = dedup.jaccard_pairs(docs, pairs).toPandas().set_index(["a", "b"])
        assert verified.loc[(0, 200), "jaccard"] == 1.0
        near = verified.loc[(2, 300), "jaccard"]
        assert 0.7 < near < 1.0
        # oracle for the near pair
        ta = set(docs.filter("doc_id = 2").collect()[0].text.split())
        tb = set(docs.filter("doc_id = 300").collect()[0].text.split())
        want = len(ta & tb) / len(ta | tb)
        assert near == pytest.approx(round(want, 6))

    def test_simhash_near_dup_close(self, spark, docs):
        out = {r.doc_id: r.simhash for r in dedup.simhash16(docs).collect()}
        assert out[0] == out[200] == out[201]
        ham = bin(out[2] ^ out[300]).count("1")
        assert ham <= 4  # near-dup: few bit flips
        # unrelated docs: larger distances on average
        dists = [bin(out[2] ^ out[i]).count("1") for i in range(40, 80)]
        assert np.mean(dists) > ham

    def test_char_ngrams(self, spark, docs):
        grams = dedup.char_ngrams_df(docs.limit(3), n=3).toPandas()
        assert (grams["gram"].str.len() == 3).all()
        txt = docs.limit(1).collect()[0].text.lower()
        want = {txt[i : i + 3] for i in range(len(txt) - 2)}
        got = set(grams[grams["doc_id"] == 0]["gram"])
        assert got == want

    def test_winnowing_guarantee(self, spark):
        """The winnowing theorem: any shared substring of length
        ≥ k + w − 1 guarantees ≥ 1 shared fingerprint; disjoint texts
        share none."""
        k, w = 8, 4
        shared = "zqxjvkwp eiou mnbv"  # len 18 > k + w - 1 = 11
        rng_junk = [
            "the quick brown fox jumps over it all day long",
            "pack my box with five dozen liquor jugs again",
            "completely different content with no overlap here",
        ]
        rows = [
            (0, rng_junk[0] + " " + shared),
            (1, shared + " " + rng_junk[1]),
            (2, rng_junk[2]),
        ]
        docs = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]),
            "doc_id long, text string",
        )
        pairs = {
            (r.a, r.b): r.n_shared
            for r in dedup.winnow_candidates(docs, k=k, w=w).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] >= 1
        assert not any(2 in p for p in pairs)
        # selection really is sparse: far fewer fps than k-grams
        fps = dedup.winnow_fingerprints(docs, k=k, w=w).toPandas()
        n_grams = sum(len(t) - k + 1 for _, t in rows)
        assert len(fps) < n_grams / 2


class TestSimilarity:
    def test_bruteforce_topk_oracle(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        out = similarity.cosine_topk(emb.filter("vec_id < 5"), emb, k=3).toPandas()
        pdf = emb.toPandas()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        for q in range(5):
            qi = np.where(ids == q)[0][0]
            cos = (mat @ mat[qi]) / (norms * norms[qi])
            cos[qi] = -np.inf
            order = np.lexsort((ids, -cos))[:3]
            want = ids[order].tolist()
            got = out[out["query_id"] == q].sort_values("rank")["neighbor_id"].tolist()
            assert got == want

    def test_ann_recall(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        exact = similarity.cosine_topk(emb, emb, k=3).toPandas()
        approx = similarity.ann_topk(emb, k=3, dim=64).toPandas()
        e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
        a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
        recall = len(e & a) / len(e)
        # random (clusterless) embeddings are LSH's worst case; the
        # multi-table union + query-side multi-probe still recovers
        # nearly all true neighbors (measured 0.95 at the defaults)
        assert recall > 0.9
        # and the candidate set stays sub-quadratic: per-table buckets
        # are small
        sig = emb.withColumn(
            "b", similarity.hyperplane_signature_col("embedding", 64, 5)
        )
        sizes = sig.groupBy("b").count().toPandas()["count"]
        assert sizes.max() < 100


class TestCosineDup:
    """Embedding-cosine near-dup: exact baseline, LSH scale path,
    cluster assignment. The uniform synthetic embeddings have no
    natural near-dups (max random cosine ~0.51), so duplicates are
    planted as small deterministic perturbations."""

    def _fixture(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        emb.filter("vec_id < 100").createOrReplaceTempView("__emb_base")
        return spark.sql(
            """
            SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS embedding
            FROM __emb_base
            UNION ALL
            SELECT vec_id + 1000,
                   transform(embedding, (x, i) -> CAST(x AS DOUBLE)
                     + CASE WHEN i % 16 = 0 THEN 0.05e0 ELSE 0.0e0 END)
            FROM __emb_base WHERE vec_id < 30
            UNION ALL
            SELECT vec_id + 2000,
                   transform(embedding, (x, i) -> CAST(x AS DOUBLE)
                     + CASE WHEN i % 16 = 0 THEN 0.1e0 ELSE 0.0e0 END)
            FROM __emb_base WHERE vec_id < 10
            """
        )

    def test_exact_pairs_vs_numpy(self, spark):
        fix = self._fixture(spark).toPandas()
        got = similarity.cosine_dup_pairs(
            self._fixture(spark), threshold=0.8, mode="exact"
        ).toPandas()
        mat = np.stack(fix["embedding"].to_numpy()).astype(np.float64)
        ids = fix["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(ids), k=1)
        want = {
            tuple(sorted((int(ids[i]), int(ids[j]))))
            for i, j in zip(*iu)
            if cos[i, j] >= 0.8
        }
        assert {tuple(sorted((r.a, r.b))) for r in got.itertuples()} == want
        # the planted structure: 30 first-degree + 10 second-degree
        # copies + 10 copy1-copy2 edges
        assert len(want) == 50

    def test_lsh_pairs_subset_and_recall(self, spark):
        fix = self._fixture(spark)
        exact = {
            (r.a, r.b)
            for r in similarity.cosine_dup_pairs(
                fix, threshold=0.8, mode="exact"
            ).collect()
        }
        lsh = {
            (r.a, r.b)
            for r in similarity.cosine_dup_pairs(
                fix, threshold=0.8, mode="lsh", dim=64, n_planes=6, n_tables=8
            ).collect()
        }
        # the cosine filter is exact, so LSH can NEVER add a pair
        assert lsh <= exact
        # near-dup angles are tiny -> collision probability ~1
        assert len(lsh) / len(exact) >= 0.95

    def test_clusters_match_exact_components(self, spark):
        fix = self._fixture(spark)
        lsh_pairs = similarity.cosine_dup_pairs(
            fix, threshold=0.8, mode="lsh", dim=64, n_planes=6, n_tables=8
        )
        exact_pairs = similarity.cosine_dup_pairs(fix, threshold=0.8, mode="exact")
        got = sorted(map(tuple, dedup.duplicate_clusters(lsh_pairs, "a", "b").collect()))
        want = sorted(map(tuple, dedup.duplicate_clusters(exact_pairs, "a", "b").collect()))
        assert got == want
        # triangle components collapse to the base id
        clusters = dict(got)
        assert clusters[2000] == 0 and clusters[1000] == 0

    def test_exact_over_budget_same_pairs(self, spark, monkeypatch):
        """A corpus over the collect budget takes the expression
        crossJoin instead of the broadcast matmul: the same pairs on a
        fixture whose cosines sit clear of the threshold (the planted
        near-dups far above 0.8, the uniform random pairs near 0.5)."""
        fix = self._fixture(spark)
        fast = similarity.cosine_dup_pairs(fix, threshold=0.8, mode="exact").collect()
        monkeypatch.setattr(route, "MAX_COLLECT_BYTES", 0)
        slow = similarity.cosine_dup_pairs(fix, threshold=0.8, mode="exact").collect()
        assert {(r.a, r.b) for r in slow} == {(r.a, r.b) for r in fast}
        assert len(fast) == 50

    def test_lsh_empty_input(self, spark):
        fix = self._fixture(spark).filter("vec_id < 0")
        out = similarity.cosine_dup_pairs(fix, mode="lsh")
        assert out.count() == 0
        assert out.columns == ["a", "b", "cosine"]

    def test_unknown_mode_raises(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            similarity.cosine_dup_pairs(self._fixture(spark), mode="bogus")


class TestMultimodal:
    def test_decode_meta(self, spark):
        media = multimodal.synth_media_df(spark, 30)
        out = multimodal.decode_media_meta(media).toPandas().set_index("media_id")
        assert set(out["kind"]) == {"image", "audio"}
        img = out[out["kind"] == "image"]
        assert (img["width"] * img["height"] * img["channels"] + 13 == img["byte_len"]).all()
        aud = out[out["kind"] == "audio"]
        assert (aud["n_samples"] * 2 + 12 == aud["byte_len"]).all()
        assert out["mean_value"].notna().all()

    def test_det_payloads_closed_form(self):
        """Deterministic fixture content matches its closed form and
        never emits INT16_MIN (whose np.abs overflows int16)."""
        import numpy as np
        import struct

        b = multimodal.make_image_payload_det(5, 4, 3, salt=9)
        assert struct.unpack_from("<IIB", b, 4) == (5, 4, 3)
        px = np.frombuffer(b, np.uint8, offset=13)
        assert px.tolist() == [(j * 31 + 9) % 256 for j in range(60)]
        a = multimodal.make_audio_payload_det(16000, 300, salt=2)
        pcm = np.frombuffer(a, np.int16, offset=12)
        assert pcm.min() >= -32767
        assert pcm.tolist() == [(j * 97 + 2) % 65535 - 32767 for j in range(300)]

    def test_resize_roundtrip(self, spark):
        media = multimodal.synth_media_df(spark, 12)
        resized = multimodal.resize_images(media, 16, 16)
        meta = multimodal.decode_media_meta(resized).toPandas()
        assert (meta["width"] == 16).all() and (meta["height"] == 16).all()

    def test_real_decode_image_png(self):
        from sophox_spark.functions import png

        img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        got = multimodal.real_decode_image(png.encode(img))
        assert np.array_equal(got, img)
        with pytest.raises(png.PngFormatError):
            multimodal.real_decode_image(b"GIF89a not supported")

    def test_decode_images_stats(self, spark):
        """PNG and IMG1 payloads decode to exact stats; garbage yields a
        NULL-stats row, never a task kill."""
        import pandas as pd

        from sophox_spark.functions import png

        grad = np.add.outer(np.arange(8) * 16, np.arange(8) * 2).astype(np.uint8)
        rows = [
            (0, png.encode(np.stack([grad] * 3, axis=-1))),   # 8x8 RGB
            (1, png.encode(grad)),                            # 8x8 gray
            (2, multimodal.make_image_payload(4, 4, 3, seed=2)),
            (3, b"\x89PNG\r\n\x1a\ntruncated"),               # garbage
        ]
        pdf = pd.DataFrame(rows, columns=["media_id", "payload"])
        media = spark.createDataFrame(pdf, "media_id long, payload binary")
        out = multimodal.decode_images(media).toPandas().set_index("media_id")
        assert out.loc[0, "width"] == 8 and out.loc[0, "channels"] == 3
        assert out.loc[0, "mean_value"] == pytest.approx(float(grad.mean()))
        assert out.loc[1, "channels"] == 1
        # histogram buckets sum to the pixel count
        assert sum(out.loc[0, "hist16"]) == 8 * 8 * 3
        assert np.array_equal(
            np.asarray(out.loc[0, "hist16"]),
            np.bincount(np.repeat(grad.reshape(-1) >> 4, 3), minlength=16)[:16],
        )
        assert out.loc[3, ["width", "mean_value"]].isna().all()


class TestResumable:
    def test_mid_job_resume_skips_completed(self, spark, tmp_path):
        lon, lat = synth.random_points(2000, salt=9)
        pts = spark.createDataFrame(
            pd.DataFrame({"pt_id": np.arange(2000, dtype=np.int64), "lon": lon, "lat": lat}),
            "pt_id long, lon double, lat double",
        )
        polygons = synth.admin_polygons_df(spark, 40)
        out_dir = str(tmp_path / "out")
        man = Manifest(spark, str(tmp_path / "manifest"))
        with pytest.raises(RuntimeError, match="injected crash"):
            resumable.resumable_pip_join(
                spark, pts, polygons, out_dir, man, fail_after_units=5
            )
        done_before = man.completed_units("pip")
        assert len(done_before) == 5
        mtimes = {
            p: os.path.getmtime(p) for p in glob.glob(out_dir + "/bucket=*/_SUCCESS")
        }
        # resume: completes the rest without touching finished units
        result = resumable.resumable_pip_join(spark, pts, polygons, out_dir, man)
        for p, t in mtimes.items():
            assert os.path.getmtime(p) == t, f"completed unit rewritten: {p}"
        # equals the single-shot join row-for-row
        direct = spatial_join.point_in_polygon_join(pts, polygons)
        got = {(r.pt_id, r.polygon_id) for r in result.collect()}
        want = {(r.pt_id, r.polygon_id) for r in direct.collect()}
        assert got == want

    def test_row_counts_match_unit_files(self, spark, tmp_path, monkeypatch):
        """Each unit's manifest row counts what its write emitted, and no
        unit's output is read back to count it."""
        import pyarrow.parquet as pq
        from pyspark.sql.readwriter import DataFrameReader

        lon, lat = synth.random_points(600, salt=3)
        pts = spark.createDataFrame(
            pd.DataFrame({"pt_id": np.arange(600, dtype=np.int64), "lon": lon, "lat": lat}),
            "pt_id long, lon double, lat double",
        )
        polygons = synth.admin_polygons_df(spark, 20)
        out_dir = str(tmp_path / "out")
        man = Manifest(spark, str(tmp_path / "manifest"))
        reads = []
        real_parquet = DataFrameReader.parquet

        def spy(self, *paths, **kw):
            reads.extend(paths)
            return real_parquet(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        result = resumable.resumable_pip_join(spark, pts, polygons, out_dir, man, bucket_bits=2)
        assert reads == [os.path.join(out_dir, "bucket=*")]
        rows = {r.unit: r.row_count for r in man.read().filter("job = 'pip'").collect()}
        assert set(rows) == {f"cellpfx={b}" for b in range(4)}
        for b in range(4):
            files = glob.glob(os.path.join(out_dir, f"bucket={b}", "*.parquet"))
            assert rows[f"cellpfx={b}"] == sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        assert sum(rows.values()) == result.count() > 0


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


class TestTaginfo:
    """S5/J10/SO3 (updateUsageStats.py:80-133): JSON snapshot source with
    declared schema, key→item resolution join, delete-then-insert
    (snapshot-overwrite) usage-counter refresh."""

    def test_json_roundtrip_and_overwrite(self, spark, tmp_path):
        import json

        from sophox_spark.sources import taginfo
        from sophox_spark.streaming.incremental import PartitionedSnapshotTable

        rows = [
            {"key": "highway", "count_all": 900, "count_nodes": 100,
             "count_ways": 700, "count_relations": 100, "values_all": 40,
             "users_all": 12},
            {"key": "name", "count_all": 500, "count_nodes": 300},
            {"key": "unmatched_key", "count_all": 7},
        ]
        p = tmp_path / "taginfo.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        stats = taginfo.read_taginfo_json(spark, str(p))
        assert stats.count() == 3
        got = {r.key: r for r in stats.collect()}
        # declared schema: absent fields are null, no inference drift
        assert got["highway"].count_ways == 700
        assert got["name"].count_ways is None

        key_items = spark.createDataFrame(
            pd.DataFrame({"key": ["highway", "name"], "item": ["M1", "M2"]}),
            "key string, item string",
        )
        resolved = taginfo.resolve_keys(stats, key_items)
        # inner join drops keys without a metadata item (reference VALUES join)
        assert {r.key for r in resolved.collect()} == {"highway", "name"}

        man = Manifest(spark, str(tmp_path / "man"))
        table = PartitionedSnapshotTable(
            spark, str(tmp_path / "usage"), man, "usage", keys=("key",)
        )
        v1 = taginfo.usage_stats_overwrite(stats, key_items, table)
        # second refresh fully replaces the first (SO3 delete-then-insert)
        v2 = taginfo.usage_stats_overwrite(stats.filter("key = 'name'"), key_items, table)
        assert v2 == v1 + 1
        final = table.read()
        assert final.count() == 1 and final.collect()[0].key == "name"


class TestAnnBroadcastEquivalence:
    def test_broadcast_kernel_matches_join_path(self, spark, monkeypatch):
        """The byte-budgeted broadcast fast path of ivf_topk/ann_topk
        must be row-for-row identical to the distributed join path it
        short-circuits (same probe/bucket math, same einsum cosine,
        same tie-break) — pinned by forcing the budget to 0 for the
        join-path run."""
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

        fast_ivf = similarity.ivf_topk(emb, k=3).collect()
        fast_ann = similarity.ann_topk(emb, k=3).collect()
        monkeypatch.setattr(route, "MAX_COLLECT_BYTES", 0)
        join_ivf = similarity.ivf_topk(emb, k=3).collect()
        join_ann = similarity.ann_topk(emb, k=3).collect()
        assert sorted(map(tuple, fast_ivf)) == sorted(map(tuple, join_ivf))
        assert sorted(map(tuple, fast_ann)) == sorted(map(tuple, join_ann))

    def test_broadcast_kernel_degenerate_corpora(self, spark):
        """Single-vector corpus (self excluded → batches that yield only
        empty frames) and exact-duplicate ties must survive the Arrow
        conversion and keep the deterministic neighbor_id tie-break."""
        one = spark.createDataFrame(
            pd.DataFrame({"vec_id": [1], "embedding": [[1.0] * 8]}),
            "vec_id long, embedding array<double>",
        )
        assert similarity.ivf_topk(one, k=3, n_lists=1, sample=4).count() == 0
        assert similarity.ann_topk(one, k=3, dim=8).count() == 0
        two = spark.createDataFrame(
            pd.DataFrame({"vec_id": [1, 2], "embedding": [[1.0] * 8] * 2}),
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.ivf_topk(two, k=3, n_lists=1, sample=4).collect()
        )
        assert got == [(1, 2, 1), (2, 1, 1)]

    def test_broadcast_kernel_nan_cosine_matches_join(self, spark, monkeypatch):
        """An all-zero vector's 0/0 cosine becomes NULL through the
        join path's Arrow conversion and desc() is NULLS LAST; the
        broadcast kernel's sort key must rank it the same (last, ties
        by neighbor_id)."""
        emb = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": [1, 2, 3, 4],
                    "embedding": [[1.0] * 8, [0.0] * 8, [0.5] * 8, [-1.0] * 8],
                }
            ),
            "vec_id long, embedding array<double>",
        )

        def norm(rs):
            return sorted(
                (r.query_id, r.neighbor_id,
                 None if r.cosine is None else round(r.cosine, 12), r.rank)
                for r in rs
            )

        fast_ivf = norm(similarity.ivf_topk(emb, k=3, n_lists=1, sample=4).collect())
        fast_ann = norm(similarity.ann_topk(emb, k=3, dim=8).collect())
        monkeypatch.setattr(route, "MAX_COLLECT_BYTES", 0)
        assert fast_ivf == norm(
            similarity.ivf_topk(emb, k=3, n_lists=1, sample=4).collect()
        )
        assert fast_ann == norm(similarity.ann_topk(emb, k=3, dim=8).collect())

    def test_broadcast_kernel_null_key_keeps_large_ids(self, spark, monkeypatch):
        """A NULL key sharing a batch with ids ≥ 2^53 must not turn the
        key column float64 on the fast path (that rounds the ids and
        breaks self-exclusion): one partition holds every row, and
        both kernels stay row-identical to the join path."""
        big = 1 << 53
        emb = spark.createDataFrame(
            [
                (big + 1, [1.0] * 8),
                (big + 3, [1.0] * 7 + [0.9]),
                (None, [1.0] * 6 + [0.8, 0.8]),
                (5, [1.0] * 5 + [0.7] * 3),
            ],
            "vec_id long, embedding array<double>",
        ).coalesce(1)

        def rows(df):
            return sorted(
                (r.query_id, r.neighbor_id, round(r.cosine, 12), r.rank)
                for r in df.collect()
            )

        fast_ivf = rows(similarity.ivf_topk(emb, k=3, n_lists=1, sample=4))
        fast_ann = rows(similarity.ann_topk(emb, k=3, dim=8))
        monkeypatch.setattr(route, "MAX_COLLECT_BYTES", 0)
        join_ivf = rows(similarity.ivf_topk(emb, k=3, n_lists=1, sample=4))
        join_ann = rows(similarity.ann_topk(emb, k=3, dim=8))
        assert {q for q, *_ in join_ivf} == {big + 1, big + 3, 5}
        assert fast_ivf == join_ivf
        assert fast_ann == join_ann

    @staticmethod
    def _both_routes(monkeypatch, caplog, call):
        """Sorted rows of ``call()`` on the broadcast route, then on the
        join route (budget 0), each asserted to take that route."""
        import logging

        runs = []
        for budget in (route.MAX_COLLECT_BYTES, 0):
            monkeypatch.setattr(route, "MAX_COLLECT_BYTES", budget)
            caplog.clear()
            with caplog.at_level(logging.DEBUG, logger="sophox_spark.route"):
                df = call()
            recs = [r.route for r in caplog.records if r.name == "sophox_spark.route"]
            assert recs == ["collect" if budget else "distributed"]
            runs.append(sorted(map(tuple, df.collect())))
        return runs

    @staticmethod
    def _emb(spark):
        """500 seeded random 64-dim vectors with ids 0..499."""
        rng = np.random.default_rng(17)
        vecs = [v.tolist() for v in rng.standard_normal((500, 64))]
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": range(500), "embedding": vecs}),
            "vec_id long, embedding array<double>",
        )

    def test_nprobe_over_n_lists(self, spark, monkeypatch, caplog):
        emb = self._emb(spark)
        fast, join = self._both_routes(
            monkeypatch, caplog,
            lambda: similarity.ivf_topk(emb, k=3, n_lists=4, nprobe=9),
        )
        assert len(fast) == 3 * 500
        assert fast == join

    def test_probes_over_n_planes(self, spark, monkeypatch, caplog):
        emb = self._emb(spark)
        fast, join = self._both_routes(
            monkeypatch, caplog,
            lambda: similarity.ann_topk(emb, k=3, n_planes=2, n_tables=3, n_probes=5),
        )
        assert len(fast) == 3 * 500
        assert fast == join

    def test_int_keys(self, spark, monkeypatch, caplog):
        emb = self._emb(spark).select(
            F.col("vec_id").cast("int").alias("vec_id"), "embedding"
        )
        for call in (
            lambda: similarity.ivf_topk(emb, k=3),
            lambda: similarity.ann_topk(emb, k=3),
        ):
            assert call().schema["query_id"].dataType.simpleString() == "int"
            fast, join = self._both_routes(monkeypatch, caplog, call)
            assert fast and fast == join

    def test_duplicate_vectors_tie_by_neighbor_id(self, spark, monkeypatch, caplog):
        """Each vector appears under ids i and i + 1000: a query's copy
        ranks first, then each other vector's two ids tie on cosine and
        the smaller id ranks first."""
        base = self._emb(spark).filter("vec_id < 40")
        emb = base.unionByName(base.selectExpr("vec_id + 1000 AS vec_id", "embedding"))
        for call in (
            lambda: similarity.ivf_topk(emb, k=3, n_lists=4, nprobe=4),
            lambda: similarity.ann_topk(emb, k=3),
        ):
            fast, join = self._both_routes(monkeypatch, caplog, call)
            assert fast == join
            by_query = {}
            for q, n, c, r in fast:
                by_query.setdefault(q, {})[r] = (n, c)
            assert len(by_query) == 80
            for q, ranked in by_query.items():
                assert ranked[1][0] == (q + 1000 if q < 1000 else q - 1000)
                (n2, c2), (n3, c3) = ranked[2], ranked[3]
                assert c2 == c3 and n3 == n2 + 1000


class TestIvf:
    def test_ivf_recall_clustered_vs_uniform(self, spark):
        """IVF's contract: on CLUSTERED embeddings (the realistic case)
        probing 2/16 lists recovers >0.9 of true neighbors; on uniform
        data recall tracks the probed fraction (documented floor)."""
        rng = np.random.default_rng(13)
        centers = rng.standard_normal((16, 64)) * 3.0
        rows = [
            (i, (centers[i % 16] + rng.standard_normal(64) * 0.3).tolist())
            for i in range(600)
        ]
        emb = spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding"]),
            "vec_id long, embedding array<double>",
        ).cache()
        exact = similarity.cosine_topk(emb, emb, k=3).toPandas()
        e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
        approx = similarity.ivf_topk(emb, k=3, n_lists=16, nprobe=2).toPandas()
        a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
        assert len(e & a) / len(e) > 0.9

        # uniform worst case: recall still above half at nprobe=6/16
        uni = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        exact_u = similarity.cosine_topk(uni, uni, k=3).toPandas()
        eu = {(r.query_id, r.neighbor_id) for r in exact_u.itertuples()}
        au = similarity.ivf_topk(uni, k=3, n_lists=16, nprobe=6).toPandas()
        su = {(r.query_id, r.neighbor_id) for r in au.itertuples()}
        assert len(eu & su) / len(eu) > 0.55

    def test_fewer_vectors_than_lists_is_exact(self, spark, monkeypatch):
        """Five vectors under the default 16 lists: one list a vector,
        so the default nprobe=6 probes every list and both routes return
        ``cosine_topk``'s neighbours and ranks."""
        rng = np.random.default_rng(5)
        emb = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": range(5),
                    "embedding": [rng.standard_normal(8).tolist() for _ in range(5)],
                }
            ),
            "vec_id long, embedding array<double>",
        )

        def ranks(df):
            return sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())

        want = ranks(similarity.cosine_topk(emb, emb, k=3))
        assert len(want) == 15
        assert ranks(similarity.ivf_topk(emb, k=3)) == want
        monkeypatch.setattr(route, "MAX_COLLECT_BYTES", 0)
        assert ranks(similarity.ivf_topk(emb, k=3)) == want

    def test_empty_corpus(self, spark):
        emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
        out = similarity.ivf_topk(emb, k=3)
        assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
        assert out.count() == 0


class TestDuplicateClusters:
    def test_chain_and_islands(self, spark):
        from sophox_spark.operators import dedup

        # chain 1-2, 2-3, 3-4 -> one component labeled 1;
        # island 10-11 -> labeled 10; 20-21 + 21-22 -> labeled 20
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "a long, b long",
        )
        got = {
            r.x: r.cluster
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20}

    def test_long_chain_converges(self, spark):
        from sophox_spark.operators import dedup

        n = 40  # diameter 40 chain: worst case for min-propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a long, b long"
        )
        out = dedup.duplicate_clusters(pairs, max_iter=64).collect()
        assert {r.cluster for r in out} == {0}
        assert len(out) == n + 1


def test_lsh_chain_mode_same_clusters_linear_pairs(spark):
    """chain mode emits n-1 consecutive pairs per bucket (linear, the
    scale path) and yields IDENTICAL connected components to the
    all-pairs mode — the sf1 soak found the all-pairs variant going
    quadratic on duplicate-heavy buckets."""
    import pandas as pd

    from sophox_spark.operators import dedup

    # 12 near-identical docs (one shared vocabulary) + 3 distinct
    rows = [(i, "alpha beta gamma delta epsilon zeta", "en")
            for i in range(12)]
    rows += [(100, "totally different words here qq ww ee", "en"),
             (101, "another unrelated text block rr tt yy", "en"),
             (102, "third standalone document uu ii oo pp", "en")]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    all_pairs = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4)
    chain = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4,
                                    mode="chain")
    n_all = all_pairs.select("a", "b").distinct().count()
    n_chain = chain.select("a", "b").distinct().count()
    assert n_all == 12 * 11 // 2      # quadratic clique
    assert n_chain == 11              # linear chain
    ca = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(all_pairs).collect()}
    cc = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(chain).collect()}
    assert ca == cc == {(i, 0) for i in range(12)}


def test_lsh_chain_salted_same_clusters(spark):
    """chain_salt splits each bucket into independent lanes linked by
    their minima — largest single-task sort bounded at bucket/salt,
    clusters IDENTICAL to the unsalted chain and to all-pairs."""
    import pandas as pd

    from sophox_spark.operators import dedup

    rows = [(i, "alpha beta gamma delta epsilon zeta", "en")
            for i in range(20)]
    rows += [(100 + i, f"unique text number {i} xx{i} yy{i} zz{i}", "en")
             for i in range(4)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    plain = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4, mode="chain")
    salted = dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4,
                                     mode="chain", chain_salt=4)
    cp = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(plain).collect()}
    cs = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(salted).collect()}
    assert cp == cs
    assert {(i, 0) for i in range(20)} <= cs
    # salted pair volume stays linear-ish: lanes-1 links per bucket extra
    assert salted.count() <= plain.count() + 4 * 4 * 4  # bands*lanes slack


def test_winnow_chain_mode_same_clusters_linear_pairs(spark):
    """winnow_candidates chain mode: a boilerplate-heavy corpus (many
    docs sharing one long template string → hot fingerprint buckets)
    must produce linear pair volume and connected components IDENTICAL
    to the quadratic all-pairs mode — the same O(bucket²) failure LSH
    chain mode fixed in round 5."""
    import pandas as pd

    from sophox_spark.operators import dedup

    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template, "en") for i in range(15)]
    distinct_texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett",
        "zinc copper nickel cobalt iron manganese chromium vanadium ore",
        "sonata concerto symphony etude nocturne prelude fugue overture",
    ]
    rows += [(200 + i, t, "en") for i, t in enumerate(distinct_texts)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    all_pairs = dedup.winnow_candidates(docs, k=10, w=4)
    chain = dedup.winnow_candidates(docs, k=10, w=4, mode="chain")
    assert all_pairs.select("a", "b").distinct().count() == 15 * 14 // 2
    assert chain.select("a", "b").distinct().count() == 14  # linear
    ca = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(all_pairs).collect()}
    cc = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(chain).collect()}
    assert ca == cc == {(i, 0) for i in range(15)}


def test_winnow_chain_salted_same_clusters(spark):
    """Salted winnow chains: lanes chained independently, lane minima
    linked — clusters identical to unsalted chain and all-pairs, pair
    volume bounded."""
    import pandas as pd

    from sophox_spark.operators import dedup

    template = "boilerplate footer text repeated across the entire site"
    rows = [(i, template, "en") for i in range(24)]
    rows += [(300, "standalone page content aa bb cc dd ee ff gg hh", "en")]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    plain = dedup.winnow_candidates(docs, k=10, w=4, mode="chain")
    salted = dedup.winnow_candidates(
        docs, k=10, w=4, mode="chain", chain_salt=4
    )
    cp = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(plain).collect()}
    cs = {(r.x, r.cluster)
          for r in dedup.duplicate_clusters(salted).collect()}
    assert cp == cs
    assert {(i, 0) for i in range(24)} <= cs
    # per hot fp: (lanes-1) extra linking edges at most
    n_fps = 20  # template winnow fps upper bound at this k/w
    assert salted.select("a", "b").distinct().count() <= 23 + 4 * n_fps
    with pytest.raises(ValueError, match="min_shared"):
        dedup.winnow_candidates(docs, mode="chain", min_shared=2)


class TestLineDedup:
    def test_boilerplate_drops_uniques_survive(self, spark):
        from sophox_spark.operators import dedup

        docs = spark.createDataFrame(
            [
                (1, "SHARED\nonly in one\n\nSHARED TAIL"),
                (2, "SHARED\nmine alone\n\nSHARED TAIL"),
                (3, "  SHARED  \nthird doc\nSHARED TAIL"),
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in dedup.line_dedup(docs).collect()}
        # trimmed-line identity: "  SHARED  " dedups with "SHARED";
        # empty lines are structure, never dropped
        assert out[1]["text"] == "only in one\n"
        assert out[2]["text"] == "mine alone\n"
        assert out[3]["text"] == "third doc"
        assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 2
        assert out[3]["n_dropped"] == 2

    def test_max_repeats_threshold(self, spark):
        from sophox_spark.operators import dedup

        docs = spark.createDataFrame(
            [(1, "twice\nx"), (2, "twice\ny"), (3, "z")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["text"]
               for r in dedup.line_dedup(docs, max_repeats=2).collect()}
        # 2 occurrences <= max_repeats: kept everywhere
        assert out == {1: "twice\nx", 2: "twice\ny", 3: "z"}


class TestPiiAndDecontamination:
    def test_scrub_pii(self, spark):
        from sophox_spark.functions import textstats

        df = spark.createDataFrame(
            [
                (1, "mail bob@x.org or bob.smith+a@sub.ex.co.uk now"),
                (2, "server 192.168.0.1 and 999.1.1.1 stay partial"),
                (3, "call +44-20-7946-0958 ok"),
                (4, "user@10.0.0.1 bare-IP mail hosts scrub as IP"),
                (5, "clean text"),
            ],
            ["doc_id", "text"],
        )
        out, counts = textstats.scrub_pii(F.col("text"))
        got = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id", out.alias("t"),
                counts["email"].alias("ne"),
                counts["ipv4"].alias("ni"),
                counts["phone"].alias("np"),
            ).collect()
        }
        assert got[1]["t"] == "mail <EMAIL> or <EMAIL> now"
        assert got[1]["ne"] == 2
        # 999 is not a valid octet: only the real IP scrubs
        assert got[2]["t"] == "server <IP> and 999.1.1.1 stay partial"
        assert got[3]["t"] == "call <PHONE> ok"
        # conservative email pattern needs an alpha TLD, so the
        # bare-IP mail host is caught by the IP pass instead
        assert got[4]["t"] == "user@<IP> bare-IP mail hosts scrub as IP"
        assert (got[4]["ne"], got[4]["ni"]) == (0, 1)
        assert got[5]["t"] == "clean text"

    def test_decontaminate_13gram(self, spark):
        from sophox_spark.operators import dedup

        words = [f"w{k}" for k in range(40)]
        bench_txt = " ".join(words[10:25])          # 15 tokens -> 3 13-grams
        docs = spark.createDataFrame(
            [
                (1, " ".join(words[0:30])),          # contains all 3
                (2, " ".join(words[12:26])),         # 14 tokens, 2 windows
                (3, " ".join(reversed(words))),      # same vocab, no gram
                (4, "short doc"),                    # < n tokens
            ],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame([(bench_txt,)], ["text"])
        got = {r["doc_id"]: r["n_contaminated"]
               for r in dedup.decontaminate(docs, bench, n=13).collect()}
        assert got[1] == 3
        # only the w12..w24 window matches (the w13 window needs w25,
        # past the benchmark's last gram)
        assert got[2] == 1
        assert 3 not in got and 4 not in got


class TestExactSubstr:
    def test_shared_passage_spans(self, spark):
        shared = " ".join(f"s{i}" for i in range(15))
        docs = spark.createDataFrame(
            [
                (0, "a0 b0 c0 " + shared + " z0 y0"),
                (1, "a1 b1 " + shared + " q1"),
                (2, "all tokens here are unique " + " ".join(f"u{i}" for i in range(20))),
                (3, ""),
                (4, shared),
            ],
            ["doc_id", "text"],
        )
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
            for r in dedup.duplicated_spans(docs, k=13).collect()
        }
        # the 15-token passage = 3 overlapping 13-windows, merged
        assert spans == {0: (3, 18, 3), 1: (2, 17, 3), 4: (0, 15, 3)}

    def test_within_doc_repetition_counts(self, spark):
        gram = " ".join(f"g{i}" for i in range(13))
        docs = spark.createDataFrame(
            [(7, gram + " mid1 mid2 mid3 " + gram)],
            ["doc_id", "text"],
        )
        # both in-document occurrences are duplicated windows
        spans = dedup.duplicated_spans(docs, k=13).orderBy("span_start").collect()
        assert [(r["span_start"], r["span_end"]) for r in spans] == [(0, 13), (16, 29)]

    def test_strip_reassembly(self, spark):
        shared = " ".join(f"s{i}" for i in range(15))
        docs = spark.createDataFrame(
            [
                (0, "a0 b0 c0 " + shared + " z0 y0"),
                (1, "a1  b1\t" + shared + "\nq1"),
                (3, "   "),
                (4, shared),
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in dedup.strip_duplicated_spans(docs, k=13).collect()}
        assert out[0]["text"] == "a0 b0 c0 z0 y0"
        assert (out[0]["n_tokens"], out[0]["n_removed"]) == (20, 15)
        # mixed whitespace tokenizes like single spaces
        assert out[1]["text"] == "a1 b1 q1"
        # whitespace-only doc: zero tokens, nothing removed
        assert (out[3]["text"], out[3]["n_tokens"], out[3]["n_removed"]) == ("", 0, 0)
        # fully-duplicated doc strips to empty
        assert (out[4]["text"], out[4]["n_removed"]) == ("", 15)

    def test_min_count_threshold(self, spark):
        gram = " ".join(f"h{i}" for i in range(13))
        docs = spark.createDataFrame(
            [(1, gram + " a"), (2, gram + " b"), (3, gram + " c")],
            ["doc_id", "text"],
        )
        # appears 3 times; min_count=4 finds nothing
        assert dedup.duplicated_spans(docs, k=13, min_count=4).count() == 0
        assert dedup.duplicated_spans(docs, k=13, min_count=3).count() == 3


class TestBigramLM:
    def test_hand_computed_probs(self, spark):
        import math

        from sophox_spark.functions import lm

        ref = spark.createDataFrame([(0, "a b a b")], ["doc_id", "text"])
        model = lm.train_bigram_lm(ref)
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "b b"), (3, "z z"), (4, "solo"), (5, " ")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in lm.perplexity(docs, model).collect()}
        # V=2; c(a)=c(b)=2; c(a,b)=2, c(b,a)=1
        assert out[1]["n_bigrams"] == 1
        assert abs(out[1]["perplexity"] - 3.0 / 2.5) < 1e-12
        assert abs(out[2]["perplexity"] - 6.0) < 1e-12          # unseen bigram, seen w1
        assert abs(out[3]["perplexity"] - 2.0) < 1e-12          # fully OOV: (0+.5)/(0+1)
        assert abs(out[1]["avg_logprob"] - math.log(2.5 / 3.0)) < 1e-12
        # <2 tokens or empty: no bigrams, absent from output
        assert 4 not in out and 5 not in out

    def test_reference_like_scores_lower(self, spark):
        from sophox_spark.functions import lm

        ref = spark.createDataFrame(
            [(i, "the cat sat on the mat and the dog ran") for i in range(5)],
            ["doc_id", "text"],
        )
        model = lm.train_bigram_lm(ref)
        docs = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "mat the ran dog cat the")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["perplexity"] for r in lm.perplexity(docs, model).collect()}
        assert out[1] < out[2]


class TestSemanticDedup:
    def test_planted_clusters_and_dups(self, spark):
        import math

        # two orthogonal directions; ids 0/1 seed the clusters, 10/11
        # are near-dups of 0 (rotated by ~2deg), 20 a near-dup of 1
        def rot(theta):
            return [math.cos(theta), math.sin(theta), 0.0, 0.0]

        rows = [
            (0, rot(0.0)),
            (1, [0.0, 0.0, 1.0, 0.0]),
            (10, rot(0.03)),
            (11, rot(-0.03)),
            (20, [0.0, 0.0, 2.0, 0.1]),  # norm != 1: normalization path
            (30, [0.0, 0.7, 0.7, 0.0]),  # between clusters, no dup
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: r
            for r in similarity.semantic_dedup(
                df, n_clusters=2, iters=2, tau=0.99
            ).collect()
        }
        assert len(out) == 6
        assert out[10]["rep"] == 0 and out[10]["dropped"]
        assert out[11]["rep"] == 0 and out[11]["dropped"]
        assert out[20]["rep"] == 1 and out[20]["dropped"]
        assert not out[0]["dropped"] and not out[1]["dropped"]
        assert not out[30]["dropped"] and out[30]["rep"] == 30
        # near-dups share their representative's k-means cluster
        assert out[10]["kcluster"] == out[0]["kcluster"]
        assert out[20]["kcluster"] == out[1]["kcluster"]

    def test_empty_cluster_keeps_seed(self, spark):
        # 3 clusters requested, but only 2 distinct directions: one
        # cluster goes empty after reassignment and must not NaN out
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.01]),
            (2, [0.0, 1.0]),
            (3, [0.01, 0.99]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.semantic_dedup(df, n_clusters=3, iters=2, tau=0.999).collect()
        assert len(out) == 4
        assert all(r["rep"] is not None for r in out)


class TestSamplingAndPacking:
    def test_temperature_one_is_proportional(self, spark):
        from sophox_spark.operators import sampling

        rows = [(i, "en" if i < 80 else "de", "w " * 5) for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        out = sampling.temperature_mix(
            df, temperature=1.0, budget_frac=0.4
        ).collect()
        # T=1: every group keeps at the same rate = budget_frac
        assert all(abs(r["keep_rate"] - 0.4) < 1e-12 for r in out)

    def test_low_temperature_boosts_tail(self, spark):
        from sophox_spark.operators import sampling

        rows = [(i, "en" if i < 90 else "de", "w") for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        rates = {
            r["lang"]: r["keep_rate"]
            for r in sampling.temperature_mix(
                df, temperature=0.3, budget_frac=0.3
            ).collect()
        }
        assert rates["de"] > rates["en"]

    def test_mix_is_deterministic(self, spark):
        from sophox_spark.operators import sampling

        rows = [(i, "en", "w") for i in range(200)]
        df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        a = sorted(r["doc_id"] for r in sampling.temperature_mix(df).collect())
        b = sorted(r["doc_id"] for r in sampling.temperature_mix(df).collect())
        assert a == b and 0 < len(a) < 200

    def test_pack_hand_computed(self, spark):
        from sophox_spark.operators import sampling

        rows = [
            (1, "a b c d e f"),        # 6 tokens: bin 0 @ 0
            (2, "a b c d e f"),        # before 6, crosses 10: bin 0 @ 6
            (3, "a b"),                # before 12: bin 1 @ 2
            (4, ""),                   # before 14: 0 tokens, bin 1 @ 4
            (5, " ".join(["t"] * 9)),  # before 14: bin 1 @ 4
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: (r["n_tokens"], r["bin"], r["bin_offset"])
            for r in sampling.pack_sequences(df, budget=10).collect()
        }
        assert out == {
            1: (6, 0, 0), 2: (6, 0, 6), 3: (2, 1, 2), 4: (0, 1, 4), 5: (9, 1, 4)
        }

    def test_pack_null_text_counts_as_empty(self, spark):
        # a NULL text must behave exactly like '' (0 tokens), not NULL
        # n_tokens that silently drops out of the prefix sum (ADVICE r6)
        from sophox_spark.operators import sampling

        rows = [(1, "a b c d e f"), (2, None), (3, "a b c d e f"), (4, "x y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_tokens"], r["bin"], r["bin_offset"])
            for r in sampling.pack_sequences(df, budget=10).collect()
        }
        assert out == {1: (6, 0, 0), 2: (0, 0, 6), 3: (6, 0, 6), 4: (2, 1, 2)}

    def test_pack_matches_naive_window_any_partitioning(self, spark):
        from pyspark.sql import Window as W

        from sophox_spark.operators import sampling

        rows = [(i, "tok " * (1 + i % 37)) for i in range(400)]
        df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(13)
        got = {
            r["doc_id"]: (r["bin"], r["bin_offset"])
            for r in sampling.pack_sequences(df, budget=100).collect()
        }
        n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        before = F.coalesce(
            F.sum("n_tokens").over(
                W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        naive = {
            r["doc_id"]: (r["bin"], r["bin_offset"])
            for r in df.select("doc_id", n_tok.alias("n_tokens"))
            .select(
                "doc_id",
                F.floor(before / 100).alias("bin"),
                (before % 100).alias("bin_offset"),
            )
            .collect()
        }
        assert got == naive


class TestRandomizedReferenceEquivalence:
    """Seeded random corpora vs independent pure-Python references —
    the operator-level analog of the byte-golden strategy."""

    @staticmethod
    def _corpus(seed, n_docs=40, vocab=12, max_len=60):
        import random

        rng = random.Random(seed)
        docs = []
        for i in range(n_docs):
            n = rng.randrange(0, max_len)
            docs.append((i, " ".join(f"w{rng.randrange(vocab)}" for _ in range(n))))
        return docs

    def test_substring_dedup_matches_reference(self, spark):
        k = 5
        for seed in (1, 2, 3):
            docs = self._corpus(seed)
            # pure-python reference: window multiset -> duplicated ->
            # per-doc interval union -> strip
            wins = {}
            toks = {i: t.split() for i, t in docs if t.strip()}
            toks.update({i: [] for i, t in docs if not t.strip()})
            for i, ts in toks.items():
                for p in range(len(ts) - k + 1):
                    wins.setdefault(tuple(ts[p:p + k]), []).append((i, p))
            dup = {w: occ for w, occ in wins.items() if len(occ) >= 2}
            spans = {}
            for occ in dup.values():
                for i, p in occ:
                    spans.setdefault(i, []).append((p, p + k))
            ref_spans, ref_strip = {}, {}
            for i, ts in toks.items():
                merged = []
                for s, e in sorted(spans.get(i, [])):
                    if merged and s <= merged[-1][1]:
                        merged[-1] = (merged[-1][0], max(merged[-1][1], e))
                    else:
                        merged.append((s, e))
                ref_spans[i] = merged
                covered = set()
                for s, e in merged:
                    covered.update(range(s, e))
                kept = [t for j, t in enumerate(ts) if j not in covered]
                ref_strip[i] = (" ".join(kept), len(ts), len(ts) - len(kept))
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got_spans = {}
            for r in dedup.duplicated_spans(df, k=k).collect():
                got_spans.setdefault(r["doc_id"], []).append(
                    (r["span_start"], r["span_end"])
                )
            assert {i: sorted(v) for i, v in got_spans.items()} == {
                i: v for i, v in ref_spans.items() if v
            }, f"seed {seed}"
            got_strip = {
                r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
                for r in dedup.strip_duplicated_spans(df, k=k).collect()
            }
            assert got_strip == ref_strip, f"seed {seed}"

    def test_lm_perplexity_matches_reference(self, spark):
        import math

        for seed in (11, 12):
            docs = self._corpus(seed, n_docs=30, vocab=8)
            ref_docs = [d for d in docs if d[0] % 3 == 0]
            score_docs = [d for d in docs if d[0] % 3 != 0]
            uni, bi = {}, {}
            for _, t in ref_docs:
                ts = t.lower().split()
                for w in ts:
                    uni[w] = uni.get(w, 0) + 1
                for a, b in zip(ts, ts[1:]):
                    bi[(a, b)] = bi.get((a, b), 0) + 1
            V = len(uni)
            expected = {}
            for i, t in score_docs:
                ts = t.lower().split()
                if len(ts) < 2:
                    continue
                lps = [
                    math.log(
                        (bi.get((a, b), 0) + 0.5) / (uni.get(a, 0) + 0.5 * V)
                    )
                    for a, b in zip(ts, ts[1:])
                ]
                avg = sum(lps) / len(lps)
                expected[i] = (len(lps), avg)
            from sophox_spark.functions import lm

            df = spark.createDataFrame(docs, "doc_id long, text string")
            model = lm.train_bigram_lm(df.where("doc_id % 3 = 0"))
            got = {
                r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
                for r in lm.perplexity(df.where("doc_id % 3 != 0"), model).collect()
            }
            assert set(got) == set(expected), f"seed {seed}"
            for i in expected:
                assert got[i][0] == expected[i][0]
                assert abs(got[i][1] - expected[i][1]) < 1e-9, f"seed {seed} doc {i}"


class TestChunking:
    def test_hand_computed_chunks(self, spark):
        from sophox_spark.operators import sampling

        docs = spark.createDataFrame(
            [
                (1, " ".join(f"t{i}" for i in range(10))),  # 2 chunks
                (2, "a b c"),                                # 1 short chunk
                (3, ""),                                     # none
                (4, " ".join(f"u{i}" for i in range(7))),   # boundary: n-overlap=5 -> 1 chunk? stride=4, last=4
            ],
            ["doc_id", "text"],
        )
        out = {}
        for r in sampling.chunk_documents(
            docs, chunk_tokens=6, overlap=2
        ).collect():
            out.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["tok_start"], r["tok_end"], r["chunk"])
            )
        # doc1: starts while start < n-overlap=8 -> 0, 4 (a start at 8
        # would be fully inside [4,10) — the no-redundant-tail rule)
        assert [c[:3] for c in sorted(out[1])] == [(0, 0, 6), (1, 4, 10)]
        assert sorted(out[1])[1][3] == "t4 t5 t6 t7 t8 t9"
        assert out[2] == [(0, 0, 3, "a b c")]
        assert 3 not in out
        # doc4: n=7, overlap=2 -> starts while start < 5: 0, 4
        assert [c[:3] for c in sorted(out[4])] == [(0, 0, 6), (1, 4, 7)]

    def test_no_redundant_tail(self, spark):
        from sophox_spark.operators import sampling

        # n=120 < chunk=128: exactly one chunk, no tail fully inside it
        docs = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(120)))], ["doc_id", "text"]
        )
        out = sampling.chunk_documents(docs, chunk_tokens=128, overlap=16).collect()
        assert len(out) == 1 and out[0]["tok_end"] == 120

    def test_coverage_and_overlap_invariants(self, spark):
        from sophox_spark.operators import sampling

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(i * 7 % 97))) for i in range(1, 40)],
            ["doc_id", "text"],
        )
        rows = sampling.chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
        per = {}
        for r in rows:
            per.setdefault(r["doc_id"], []).append(r)
        for i, chunks in per.items():
            n = (i * 7) % 97
            chunks.sort(key=lambda r: r["chunk_id"])
            # full coverage, correct overlap, ends at n
            assert chunks[0]["tok_start"] == 0
            assert chunks[-1]["tok_end"] == n
            for a, b in zip(chunks, chunks[1:]):
                assert b["tok_start"] == a["tok_start"] + 12
                assert b["tok_start"] < a["tok_end"]  # overlapping


class TestScriptAndSample:
    def test_script_counts_and_dominant(self, spark):
        from sophox_spark.functions import textstats

        docs = spark.createDataFrame(
            [
                (1, "hello world"),
                (2, "привет мир hello"),      # cyrillic 9 > latin 5
                (3, "你好 世界"),               # cjk only
                (4, "123 .,!?"),               # no script letters
                (5, "καλημέρα"),               # greek
            ],
            ["doc_id", "text"],
        )
        counts = textstats.script_counts(F.col("text"))
        out = {
            r["doc_id"]: r
            for r in docs.select(
                "doc_id",
                counts["latin"].alias("latin"),
                counts["cyrillic"].alias("cyr"),
                counts["cjk"].alias("cjk"),
                textstats.dominant_script(F.col("text")).alias("dom"),
            ).collect()
        }
        assert (out[1]["latin"], out[1]["dom"]) == (10, "latin")
        assert out[2]["cyr"] == 9 and out[2]["dom"] == "cyrillic"
        assert out[3]["cjk"] == 4 and out[3]["dom"] == "cjk"
        assert out[4]["dom"] == "none"
        assert out[5]["dom"] == "greek"

    def test_dominant_script_tie_first_declared_wins(self, spark):
        # equal counts resolve to the FIRST SCRIPT_RANGES entry —
        # latin-first, matching the oracle CASE chain (ADVICE r6)
        from sophox_spark.functions import textstats

        docs = spark.createDataFrame(
            [(1, "abcd юабв"), (2, "привет 你好你好你")],  # 4=4 tie; 6 cyr vs 5 cjk
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["dom"]
            for r in docs.select(
                "doc_id", textstats.dominant_script(F.col("text")).alias("dom")
            ).collect()
        }
        assert out[1] == "latin"
        assert out[2] == "cyrillic"

    def test_uniform_sample_deterministic_and_uniform(self, spark):
        from sophox_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, i % 3) for i in range(1000)], ["doc_id", "grp"]
        )
        a = sorted(r["doc_id"] for r in sampling.uniform_sample(df, k=100).collect())
        b = sorted(r["doc_id"] for r in sampling.uniform_sample(df, k=100).collect())
        assert a == b and len(a) == 100
        # roughly uniform across the key range (md5 coin, not head-of-table)
        assert sum(1 for x in a if x < 500) in range(30, 71)
