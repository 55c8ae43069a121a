"""The `__spark_entry__` index cache: a miss removes the stale cached sets
of the same flavor and sf_dir, and nothing else."""

from __future__ import annotations

import os
import shutil


def test_index_dir_miss_drops_stale_sets_of_same_sf_dir(tmp_path,
                                                        monkeypatch):
    import __spark_entry__ as se

    sf_a, sf_b = str(tmp_path / "sf_a"), str(tmp_path / "sf_b")
    made = []

    def materialize(sf_dir, flavor):
        d = se._index_dir(sf_dir, flavor)
        os.makedirs(d, exist_ok=True)
        made.append(d)
        return d

    try:
        monkeypatch.setattr(se, "_build_source_digest", lambda: "old")
        old_a = materialize(sf_a, "base")
        old_a_full = materialize(sf_a, "full")
        old_b = materialize(sf_b, "base")
        # a hit keeps its own set
        assert se._index_dir(sf_a, "base") == old_a
        assert os.path.isdir(old_a)

        monkeypatch.setattr(se, "_build_source_digest", lambda: "new")
        new_a = materialize(sf_a, "base")
        assert new_a != old_a
        assert not os.path.exists(old_a)
        assert os.path.isdir(old_a_full)  # another flavor
        assert os.path.isdir(old_b)  # another sf_dir
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)


def test_index_dir_miss_drops_old_form_sets(tmp_path, monkeypatch):
    """Sets named in the older osse_idx_<flavor>_<12 hex> form (no sf_dir
    key) are removed on a miss of their flavor; another flavor's stay."""
    import uuid

    import __spark_entry__ as se

    tag = uuid.uuid4().hex[:8]
    flavor, other = f"t{tag}a", f"t{tag}b"
    old_same = os.path.join("/tmp", f"osse_idx_{flavor}_{tag}0123")
    old_other = os.path.join("/tmp", f"osse_idx_{other}_{tag}0123")
    made = [old_same, old_other]
    try:
        for d in (old_same, old_other):
            os.makedirs(d)
        monkeypatch.setattr(se, "_build_source_digest", lambda: "new")
        made.append(se._index_dir(str(tmp_path / "sf"), flavor))
        assert not os.path.exists(old_same)
        assert os.path.isdir(old_other)
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
