"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files. The program under test only sees the files written
here; the expected answers stay on the benchmark side.

- ``spotify_catalog``: nested artists/albums/tracks rows in the staging
  layout ``ingest.load_entity`` reads, valid under ``schemas.ENTITY_SCHEMAS``.
  Albums per artist and tracks per album are heavy-tailed; some albums
  list an artist twice (the pipeline's album-id dedup) and some album and
  track rows have a null id (the null-id guard before the sink).
- ``artist_requests``: the Zipf-distributed request sequence of artist
  names, with a small share of names that match no artist (the
  empty-search path).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Row builders and the staging writer shared with the test suite (read-only).
from tests.spotify_fixtures import album as _album_row  # noqa: E402
from tests.spotify_fixtures import artist as _artist_row  # noqa: E402
from tests.spotify_fixtures import track as _track_row  # noqa: E402
from tests.spotify_fixtures import write_staging  # noqa: E402,F401

_WORDS_A = (
    "Neon Velvet Silent Golden Broken Electric Midnight Crystal Wild Paper "
    "Northern Hollow Scarlet Lunar Iron Gentle Restless Amber Frozen Static"
).split()
_WORDS_B = (
    "Harbor Echo Tigers Garden Season Engine Rivers Choir Signal Orchard "
    "Machines Lanterns Comets Saints Ghosts Wolves Parade Circuit Meadow Tide"
).split()
_ITEMS_PER_ALBUM = 5  # tracks listed inline in albums.tracks.items
_NULL_ID_SHARE = 0.01  # album and track rows whose id is null
_DUP_REF_SHARE = 0.15  # albums that list their artist twice
_FEATURE_SHARE = 0.1  # albums that also credit a second artist
_MISS_SHARE = 0.05  # requested names that match no artist
_ZIPF_S = 1.1  # skew of the artist request sequence


def artist_name(i: int) -> str:
    # "#%05d" is unique per artist, so no artist's name contains another's.
    return f"{_WORDS_A[i % 20]} {_WORDS_B[(i * 7) % 20]} #{i:05d}"


def _ref(artist_id: str, name: str) -> dict:
    return {
        "id": artist_id,
        "name": name,
        "type": "artist",
        "uri": f"spotify:artist:{artist_id}",
        "href": None,
        "external_urls": {"spotify": None},
    }


def _album_item(tr: dict) -> dict:
    return {
        "id": tr["id"],
        "name": tr["name"],
        "track_number": tr["track_number"],
        "disc_number": 1,
        "duration_ms": tr["duration_ms"],
        "explicit": tr["explicit"],
        "uri": tr["uri"],
        "is_local": False,
        "available_markets": ["US"],
        "href": None,
        "preview_url": None,
        "type": "track",
        "external_urls": {"spotify": None},
        "artists": tr["artists"],
        "linked_from": None,
        "restrictions": None,
    }


def _sizes(n: int, a: float, cap: int, salt: int) -> np.ndarray:
    """``n`` Zipf(a) sizes capped at ``cap``, the same for every seed."""
    return np.minimum(np.random.default_rng(salt).zipf(a, n), cap)


def spotify_catalog(seed: int, n_artists: int) -> dict:
    """Rows per entity (``artists``, ``albums``, ``tracks``) in staging
    order, plus ``expected``: artist name -> ``(albums_stored,
    tracks_stored)`` as the reference pipeline must report them."""
    rng = np.random.default_rng(seed)
    names = [artist_name(i) for i in range(n_artists)]
    ids = [f"ar{i:06d}" for i in range(n_artists)]
    artists = [
        _artist_row(i, id=ids[i], name=names[i], href=None,
                    uri=f"spotify:artist:{ids[i]}")
        for i in range(n_artists)
    ]
    albums, tracks = [], []
    albums_of = [set() for _ in range(n_artists)]  # valid album indexes
    valid_tracks: list[int] = []  # per album
    # The heavy-tailed size distributions are drawn once, independent of
    # the seed, and the seed only decides which artist / album gets which
    # size: every seed yields the same number of albums and tracks, so
    # runs with different seeds do the same amount of work.
    album_counts = rng.permutation(_sizes(n_artists, 1.8, 60, salt=0))
    track_counts = iter(rng.permutation(
        _sizes(int(album_counts.sum()), 1.6, 40, salt=1)))
    for i, k in enumerate(album_counts):
        for _ in range(int(k)):
            a_idx = len(albums)
            refs = [i]
            if rng.random() < _FEATURE_SHARE:
                refs.append(int(rng.integers(n_artists)))
            if rng.random() < _DUP_REF_SHARE:
                refs.append(i)
            null_id = bool(rng.random() < _NULL_ID_SHARE)
            alb_id = None if null_id else f"al{a_idx:07d}"
            n_tr = int(next(track_counts))
            row = _album_row(a_idx, [], id=alb_id, href=None,
                             uri=f"spotify:album:{alb_id}", total_tracks=n_tr)
            row["artists"] = [_ref(ids[r], names[r]) for r in refs]
            row["tracks"].update(total=n_tr, items=[])
            n_valid = 0
            for j in range(n_tr):
                t_idx = len(tracks)
                tr_id = (None if null_id or rng.random() < _NULL_ID_SHARE
                         else f"tr{t_idx:08d}")
                tr = _track_row(t_idx, alb_id, [], id=tr_id,
                                uri=f"spotify:track:{tr_id}",
                                track_number=j + 1)
                tr["artists"] = [_ref(ids[i], names[i])]
                tr["album"].update(name=row["name"], total_tracks=n_tr)
                tracks.append(tr)
                if tr_id is not None:
                    n_valid += 1
                    if len(row["tracks"]["items"]) < _ITEMS_PER_ALBUM:
                        row["tracks"]["items"].append(_album_item(tr))
            albums.append(row)
            valid_tracks.append(n_valid)
            if not null_id:
                for r in refs:
                    albums_of[r].add(a_idx)
    expected = {
        names[i]: (len(albums_of[i]), sum(valid_tracks[x] for x in albums_of[i]))
        for i in range(n_artists)
    }
    return {"artists": artists, "albums": albums, "tracks": tracks,
            "expected": expected}


def expected_outcome(catalog: dict, name: str) -> tuple[str, int, int] | None:
    """What ``artist_etl`` must answer for a request: the search keeps the
    lowest-id artist whose name contains the requested string; None when
    no artist matches (the empty-search outcome)."""
    hits = [a for a in catalog["artists"] if name in a["name"]]
    if not hits:
        return None
    best = min(hits, key=lambda a: a["id"])
    return (best["name"], *catalog["expected"][best["name"]])


def artist_requests(seed: int, catalog: dict, n: int) -> list[str]:
    """``n`` requested artist names: Zipf over artists ranked by catalog
    size (the artists with most albums are asked for most), plus
    ``_MISS_SHARE`` of names that match no artist."""
    rng = np.random.default_rng(seed + 1)
    exp = catalog["expected"]
    ranked = sorted(exp, key=lambda nm: (-exp[nm][0], nm))
    w = 1.0 / np.arange(1, len(ranked) + 1) ** _ZIPF_S
    picks = rng.choice(len(ranked), size=n, p=w / w.sum())
    misses = rng.random(n) < _MISS_SHARE
    return [
        f"Unsigned Act #{90000 + int(p)}" if miss else ranked[int(p)]
        for p, miss in zip(picks, misses)
    ]
