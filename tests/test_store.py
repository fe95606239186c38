"""The shared saved-store protocol (presto_on_ray_spark/store.py):
non-local path errors name their own store, the generation publish
survives a crash at each of its steps for every store that uses it,
and no module under presto_on_ray_spark/ re-implements a primitive
that store.py owns."""

from __future__ import annotations

import os
import re

import pytest

from presto_on_ray_spark import store

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "presto_on_ray_spark",
)


def test_primitives_live_only_in_store_module():
    """Atomic replaces, exclusive creates and gen-N sweeps are store.py's
    job: a second implementation elsewhere is how the saved stores'
    crash rules drifted apart before they were unified."""
    forks = {
        "os.replace": re.compile(r"\bos\.replace\("),
        "exclusive-create open": re.compile(
            r"""\bopen\([^)\n]*,\s*(mode\s*=\s*)?["']x"""
        ),
        "O_EXCL": re.compile(r"\bO_EXCL\b"),
        "gen-N sweep": re.compile(
            r"""gen-\(?\\d|startswith\(\s*["']gen-"""
        ),
    }
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == store.__file__:
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    found += [
                        f"{os.path.relpath(path, PKG)}:{lineno}: {what}"
                        for what, rx in forks.items()
                        if rx.search(line)
                    ]
    assert not found, "store primitives re-implemented outside store.py:\n" + (
        "\n".join(found)
    )


def test_non_local_counts_and_weights_errors_name_their_store():
    """The counts and weights stores reject object-store paths with
    their OWN advice — not the dedup index's build_base_index
    remedy."""
    from presto_on_ray_spark.operators.pipeline_prep import save_segment_counts
    from presto_on_ray_spark.operators.textstats import save_classifier_weights

    for save, name in (
        (save_segment_counts, "saved segment counts"),
        (save_classifier_weights, "classifier weights store"),
    ):
        with pytest.raises(ValueError) as err:
            save(None, "s3://bucket/store")
        assert name in str(err.value)
        assert "not a local path" in str(err.value)
        assert "build_base_index" not in str(err.value)


def test_create_marker_removes_file_when_payload_write_fails(tmp_path):
    p = str(tmp_path / "_MARKER")
    with pytest.raises(TypeError):
        store.create_marker(p, object())  # write() rejects a non-str
    assert not os.path.exists(p)
    store.create_marker(p, "held\n")
    with pytest.raises(FileExistsError):
        store.create_marker(p, "")


def _gens(p):
    return sorted(d for d in os.listdir(p) if re.fullmatch(r"gen-\d+", d))


def test_publish_numbers_past_litter_and_keeps_retained(tmp_path, monkeypatch):
    """The first generation is gen-0; a crashed writer's directory is
    never reused; the sweep keeps the new generation plus ``retain``
    generations up to the previously live one, and a failing sweep
    only warns once the flip committed."""
    p = str(tmp_path / "s")

    def write(gen):
        os.makedirs(os.path.join(p, gen, "rel"))

    assert store.publish_generation(p, write, retain=1) == "gen-0"
    assert store.publish_generation(p, write, retain=1) == "gen-1"
    os.makedirs(os.path.join(p, "gen-2"))  # a crashed writer's litter
    assert store.publish_generation(p, write, retain=1) == "gen-3"
    assert _gens(p) == ["gen-1", "gen-3"]
    assert store.current_generation(p) == "gen-3"

    def busy(path):
        raise OSError("busy")

    monkeypatch.setattr(store.shutil, "rmtree", busy)
    with pytest.warns(UserWarning, match="sweep failed"):
        assert store.publish_generation(p, write, retain=0) == "gen-4"
    monkeypatch.undo()
    assert store.current_generation(p) == "gen-4"
    store.publish_generation(p, write, retain=0)
    assert _gens(p) == ["gen-5"]


class _Crash(Exception):
    pass


def _crash_during_write(monkeypatch):
    real = store.publish_generation

    def torn_publish(os_path, write, retain):
        def torn(gen):
            # the writer dies with a partial relation on disk
            os.makedirs(os.path.join(os_path, gen, "torn"))
            raise _Crash("during write")

        return real(os_path, torn, retain)

    monkeypatch.setattr(store, "publish_generation", torn_publish)


def _crash_before(seam):
    def inject(monkeypatch):
        def boom(*args):
            raise _Crash(seam)

        monkeypatch.setattr(store, seam, boom)

    return inject


CRASHES = {
    "during_write": _crash_during_write,
    "before_flip": _crash_before("flip_current"),
    "before_sweep": _crash_before("sweep_generations"),
}


def _tiny_ann(spark, vec_ids):
    from presto_on_ray_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        AnnIndex,
    )

    return AnnIndex(
        spark.createDataFrame([(0, [0] * _PQ_M)], "cell int, cv array<long>"),
        spark.createDataFrame(
            [(j, c, [c]) for j in range(_PQ_M) for c in range(_PQ_K)],
            "j int, c int, cw array<long>",
        ),
        spark.createDataFrame(
            [(v, 0, j, v % _PQ_K) for v in vec_ids for j in range(_PQ_M)],
            "vec_id long, cell int, j int, code int",
        ),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


class _AnnSave:
    marker, retain = "_ANN_WRITING", 0

    def setup(self, spark, p):
        from presto_on_ray_spark.operators.similarity import save_ann_index

        save_ann_index(_tiny_ann(spark, [1]), p)

    def write(self, spark, p, step):
        from presto_on_ray_spark.operators.similarity import save_ann_index

        save_ann_index(_tiny_ann(spark, range(1, step + 2)), p)

    def read(self, spark, p):
        from presto_on_ray_spark.operators.similarity import load_ann_index

        return _rows(load_ann_index(spark, p).codes)

    def expected(self, spark):
        return _rows(_tiny_ann(spark, [1, 2]).codes)


class _AnnCompact(_AnnSave):
    def write(self, spark, p, step):
        from presto_on_ray_spark.operators.similarity import (
            compact_saved_ann_index,
        )

        compact_saved_ann_index(spark, p)

    def expected(self, spark):
        return _rows(_tiny_ann(spark, [1]).codes)


class _CountsSave:
    marker, retain = "_COUNTS_WRITING", 1

    def setup(self, spark, p):
        self.write(spark, p, 0)

    def write(self, spark, p, step):
        from presto_on_ray_spark.operators.pipeline_prep import (
            save_segment_counts,
        )

        save_segment_counts(
            spark.createDataFrame([(step, 1)], "h long, df long"), p
        )

    def read(self, spark, p):
        from presto_on_ray_spark.operators.pipeline_prep import (
            load_segment_counts,
        )

        return _rows(load_segment_counts(spark, p))

    def expected(self, spark):
        return [(1, 1)]


class _CountsMerge(_CountsSave):
    def setup(self, spark, p):
        from presto_on_ray_spark.operators.pipeline_prep import (
            save_segment_counts,
            segment_counts,
        )

        save_segment_counts(segment_counts(self._docs(spark, 0), 4), p)

    def write(self, spark, p, step):
        from presto_on_ray_spark.operators.pipeline_prep import (
            merge_into_saved_segment_counts,
        )

        merge_into_saved_segment_counts(spark, p, self._docs(spark, step), 4)

    def expected(self, spark):
        from presto_on_ray_spark.operators.pipeline_prep import segment_counts

        both = self._docs(spark, 0).unionByName(self._docs(spark, 1))
        return _rows(segment_counts(both, 4))

    @staticmethod
    def _docs(spark, step):
        return spark.createDataFrame(
            [(step, "x y z w")], "doc_id long, text string"
        )


class _WeightsSave(_CountsSave):
    def write(self, spark, p, step):
        from presto_on_ray_spark.operators.textstats import (
            save_classifier_weights,
        )

        save_classifier_weights(
            spark.createDataFrame([(step, 1)], "bucket long, wnum long"), p
        )

    def read(self, spark, p):
        from presto_on_ray_spark.operators.textstats import (
            load_classifier_weights,
        )

        return _rows(load_classifier_weights(spark, p))


WRITERS = {
    "save_ann_index": _AnnSave(),
    "compact_saved_ann_index": _AnnCompact(),
    "save_segment_counts": _CountsSave(),
    "merge_into_saved_segment_counts": _CountsMerge(),
    "save_classifier_weights": _WeightsSave(),
}


@pytest.mark.parametrize("crash", sorted(CRASHES))
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_publish_crash_matrix(spark, tmp_path, monkeypatch, writer, crash):
    """Each generation-flip writer, crashed at each publish step:
    readers see the old generation until the flip and the new one
    after it; the writer marker is released (every one of these
    stores documents that an exception before or after the flip
    leaves nothing torn to guard); and the next successful writer
    leaves exactly the store's retained generations."""
    w = WRITERS[writer]
    p = str(tmp_path / "store")
    w.setup(spark, p)
    old_gen, old_rows = store.current_generation(p), w.read(spark, p)

    CRASHES[crash](monkeypatch)
    with pytest.raises(_Crash):
        w.write(spark, p, 1)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(p, w.marker))
    flipped = crash == "before_sweep"
    assert (store.current_generation(p) != old_gen) == flipped
    assert w.read(spark, p) == (w.expected(spark) if flipped else old_rows)

    prev = store.current_generation(p)
    w.write(spark, p, 2)
    live = store.current_generation(p)
    assert _gens(p) == sorted({live, prev} if w.retain else {live})
