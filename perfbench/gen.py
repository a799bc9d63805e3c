"""Seeded landing-zone generator for the pipeline benchmark.

Writes N daily raw files in the reference's item shape (FIXTURES.md A1):
one JSON array of playlist items per file, named
``spotify_raw_<yyyyMMddHHmmss>.json``, array index = chart position.

Properties the pipeline's transforms depend on, all drawn from one seed:
  * album and artist ids are reused Zipf-style, within and across days
    (the keep-first dedups have real work to do);
  * album release dates mix ``YYYY``, ``YYYY-MM`` and ``YYYY-MM-DD``;
  * every track has 1-3 artists, the first being the album's artist;
  * songs are drawn Zipf-style from a fixed catalogue, so the popular
    ones re-chart across days (Q1/Q3/Q4 see real chart movement); a song
    charts at most once per day.

Next to the files it returns the expectations the correctness check
needs: per-day item, artist-reference and distinct album/artist counts,
the running distinct counts over the day prefix, and the song Q4
follows.
"""
import bisect
import datetime as dt
import itertools
import json
import os
import random

ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
WORDS = ("blue night fire gold river dream echo city heart neon wild "
         "summer ghost glass velvet storm sugar lunar paper static").split()
START = dt.date(2023, 1, 1)


def _zipf_picker(rng, n, s):
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def _sid(rng, n=22):
    return "".join(rng.choice(ALPHABET) for _ in range(n))


def _title(rng, k):
    return " ".join(rng.choice(WORDS).capitalize() for _ in range(k))


class Catalogue:
    """Artists, albums and songs; sizes scale with the items per day so a
    day always reuses ids but never exhausts the song pool."""

    def __init__(self, rng, items_per_day):
        n_artists = max(8, items_per_day * 2)
        n_albums = max(12, items_per_day * 3)
        n_songs = max(3 * items_per_day, items_per_day * 10)
        self.artists = []
        for _ in range(n_artists):
            aid = _sid(rng)
            self.artists.append({
                "id": aid, "name": _title(rng, 2),
                "href": f"https://api.spotify.com/v1/artists/{aid}"})
        pick_artist = _zipf_picker(rng, n_artists, 1.0)
        self.albums = []
        for _ in range(n_albums):
            alid = _sid(rng)
            year = rng.randint(1965, 2022)
            precision = rng.randrange(3)
            release = (f"{year}" if precision == 0 else
                       f"{year}-{rng.randint(1, 12):02d}" if precision == 1 else
                       f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")
            self.albums.append({
                "id": alid, "name": _title(rng, rng.randint(1, 3)),
                "release_date": release, "total_tracks": rng.randint(1, 24),
                "external_urls": {"spotify": f"https://open.spotify.com/album/{alid}"},
                "artists": [dict(self.artists[pick_artist()])]})
        pick_album = _zipf_picker(rng, n_albums, 1.0)
        self.songs = []
        for _ in range(n_songs):
            sid = _sid(rng)
            album = self.albums[pick_album()]
            artists = [album["artists"][0]]
            for _ in range(rng.randint(0, 2)):
                extra = self.artists[pick_artist()]
                if all(a["id"] != extra["id"] for a in artists):
                    artists.append(extra)
            self.songs.append({
                "id": sid, "name": _title(rng, rng.randint(1, 4)),
                "duration_ms": rng.randint(95_000, 420_000),
                "popularity": rng.randint(20, 100),
                "external_urls": {"spotify": f"https://open.spotify.com/track/{sid}"},
                "album": album, "artists": [dict(a) for a in artists]})
        self.pick_song = _zipf_picker(rng, n_songs, 0.9)
        self.track_json = [json.dumps(t, separators=(",", ":")) for t in self.songs]


def file_name(day_index, base=START):
    day = base + dt.timedelta(days=day_index)
    return f"spotify_raw_{day:%Y%m%d}060000.json"


def generate(out_dir, n_days, items_per_day, seed, base=START):
    """Write `n_days` daily files into `out_dir`; return the expectations."""
    rng = random.Random(seed)
    cat = Catalogue(rng, items_per_day)
    os.makedirs(out_dir, exist_ok=True)
    days, seen_albums, seen_artists = [], set(), set()
    prefix_albums, prefix_artists = [0], [0]
    for d in range(n_days):
        chosen, order = set(), []
        while len(order) < items_per_day:
            k = cat.pick_song()
            if k not in chosen:
                chosen.add(k)
                order.append(k)
        day = base + dt.timedelta(days=d)
        midnight = dt.datetime(day.year, day.month, day.day)
        items = []
        for k in order:
            added = midnight - dt.timedelta(seconds=rng.randint(0, 90 * 86400))
            items.append(f'{{"added_at":"{added:%Y-%m-%dT%H:%M:%SZ}",'
                         f'"track":{cat.track_json[k]}}}')
        name = file_name(d, base)
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("[" + ",".join(items) + "]")
        albums = {cat.songs[k]["album"]["id"] for k in order}
        artists = {a["id"] for k in order for a in cat.songs[k]["artists"]}
        seen_albums |= albums
        seen_artists |= artists
        prefix_albums.append(len(seen_albums))
        prefix_artists.append(len(seen_artists))
        days.append({"file": name, "date": day.isoformat(), "items": len(items),
                     "albums": len(albums), "artists": len(artists),
                     "artist_refs": sum(len(cat.songs[k]["artists"]) for k in order)})
    return {"days": days, "prefix_albums": prefix_albums,
            "prefix_artists": prefix_artists,
            "q4_song_id": cat.songs[0]["id"]}
