"""A missing boundary directory fails with one error that names
OSML10N_BOUNDARIES and the path tried, on the loader and on the
per-worker prepared lookup alike."""
import pytest

from osml10n_spark import udfs
from osml10n_spark.spatial.boundaries import BoundaryDirNotFound, load_boundaries


def _names_variable_and_path(err, path) -> bool:
    return "OSML10N_BOUNDARIES" in str(err) and str(path) in str(err)


def test_missing_boundary_dir_raises_one_clear_error(tmp_path, monkeypatch):
    missing = tmp_path / "no-boundaries"
    with pytest.raises(BoundaryDirNotFound) as e:
        load_boundaries(str(missing))
    assert isinstance(e.value, FileNotFoundError)
    assert _names_variable_and_path(e.value, missing)

    monkeypatch.setenv("OSML10N_BOUNDARIES", str(missing))
    monkeypatch.setattr(udfs, "_STATE", {})
    with pytest.raises(BoundaryDirNotFound) as e:
        udfs._prepared()
    assert _names_variable_and_path(e.value, missing)
