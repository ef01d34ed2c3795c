"""Seeded, deterministic input generators for the sink benchmark.

Every generator takes a ``random.Random`` built from the run's seed and
returns plain Python values; the same seed always yields the same
messages. Nothing is read from outside the checkout and nothing needs a
network. Alongside the wire messages each generator returns a *ledger*:
one row per message with the fields the correctness check needs (key,
sequence number, whether the message is poison). The ledger is what the
independent expected tables are built from.

Field distributions (user ids, event types, reading values) follow the
shape of an events table: a Zipf-ish device population, a handful of
event types and two-decimal readings.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

BASE_TIME = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENT_TYPES = ("view", "click", "error", "purchase", "heartbeat")
WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "float buoy glider wave depth salinity current drift sensor report"
).split()


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _device(rng: random.Random, n_devices: int) -> int:
    # a few devices send most messages, as on a real telemetry topic
    return min(int(rng.paretovariate(1.2)) - 1, n_devices - 1)


class KeyedBatches:
    """Batches of keyed messages with controlled shares of re-sent keys,
    in-batch duplicate keys and poison messages.

    ``make_key`` draws a fresh key tuple; ``make_message(key, seq,
    poison)`` renders the wire message. A message's ``seq`` is its
    global send position, so last-writer-wins over the sent order is
    "the highest non-poison seq per key".
    """

    def __init__(self, rng, make_key, make_message, resend=0.5, dup=0.1, poison=0.01):
        self.rng = rng
        self.make_key = make_key
        self.make_message = make_message
        self.resend, self.dup, self.poison = resend, dup, poison
        self.sent_keys: list[tuple] = []
        self.seq = 0

    def batch(self, size: int) -> tuple[list[dict], list[tuple]]:
        rng = self.rng
        messages, ledger, batch_keys = [], [], []
        for _ in range(size):
            u = rng.random()
            if batch_keys and u < self.dup:
                key = rng.choice(batch_keys)
            elif self.sent_keys and u < self.dup + self.resend:
                key = rng.choice(self.sent_keys)
            else:
                key = self.make_key()
            poison = rng.random() < self.poison
            messages.append(self.make_message(key, self.seq, poison))
            ledger.append((self.seq, *key, poison))
            batch_keys.append(key)
            self.seq += 1
        # one entry per batch that sent the key: keys re-sent often are
        # drawn again more often, as hot devices are on a real topic
        self.sent_keys.extend(dict.fromkeys(batch_keys))
        return messages, ledger


def float_batches(rng: random.Random, n_devices: int = 400) -> KeyedBatches:
    """GenericFloat telemetry points keyed (uid, gid, time, lat, lon, z).

    Poison messages carry no ``values`` block, which the mapping turns
    into a dead-letter row."""
    counter = iter(range(10**9))

    def make_key():
        dev = _device(rng, n_devices)
        minute = next(counter)
        lat = round(20 + (dev % 40) + rng.random(), 5)
        lon = round(-80 + (dev % 60) + rng.random(), 5)
        z = float(rng.choice((0, 5, 10, 50)))
        return (f"float-{dev:04d}", f"g{dev % 7}", _iso(BASE_TIME + timedelta(minutes=minute)), lat, lon, z)

    def make_message(key, seq, poison):
        uid, gid, t, lat, lon, z = key
        msg = {"uid": uid, "gid": gid, "time": t, "lat": lat, "lon": lon, "z": z}
        if not poison:
            msg["values"] = {
                "seq": seq,
                "event": rng.choice(EVENT_TYPES),
                "temperature": round(rng.uniform(-2, 30), 2),
                "salinity": round(rng.uniform(30, 38), 2),
            }
        return msg

    return KeyedBatches(rng, make_key, make_message)


def geo_batches(rng: random.Random, n_devices: int = 200) -> KeyedBatches:
    """GenericGeography messages keyed (uid, gid, time): a FeatureCollection
    holding one LineString track and one Point (the latest fix).

    Poison messages carry an unparseable ``time``."""
    counter = iter(range(10**9))

    def make_key():
        dev = _device(rng, n_devices)
        return (f"glider-{dev:04d}", f"g{dev % 5}", _iso(BASE_TIME + timedelta(minutes=next(counter))))

    def make_message(key, seq, poison):
        uid, gid, t = key
        lon0, lat0 = rng.uniform(-80, -60), rng.uniform(20, 45)
        track = [[round(lon0 + 0.01 * i, 5), round(lat0 + 0.004 * i * i, 5)] for i in range(6)]
        fc = {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "properties": {"kind": "track"},
                 "geometry": {"type": "LineString", "coordinates": track}},
                {"type": "Feature", "properties": {"kind": "fix"},
                 "geometry": {"type": "Point", "coordinates": track[-1]}},
            ],
        }
        return {
            "uid": uid,
            "gid": gid,
            "time": "not-a-time" if poison else t,
            "values": {"seq": seq, "depth": round(rng.uniform(0, 200), 1)},
            "geojson": fc,
        }

    return KeyedBatches(rng, make_key, make_message, resend=0.3)


def nwic_messages(rng: random.Random, n: int, start_seq: int, n_devices: int = 300):
    """NWIC float reports in the ``NWIC_WIRE_SCHEMA`` shape (~800 B each).

    Every good message carries a status timestamp and payload coordinates,
    so the mapping's time and location cascades resolve to those fields.
    Poison messages (1%) lack the ``headers`` block."""
    lines, ledger = [], []
    for seq in range(start_seq, start_seq + n):
        imei = 300234060000000 + _device(rng, n_devices)
        status_ts = int(BASE_TIME.timestamp()) + seq * 7 + rng.randrange(5)
        lat, lon = round(rng.uniform(20, 45), 5), round(rng.uniform(-80, -60), 5)
        poison = rng.random() < 0.01
        msg = {
            "cdr_reference": seq,
            "headers": {
                "imei": imei,
                "iridium_ts": status_ts + 30,
                "sbd_session_status": "SBD_SESSION_COMPLETED",
                "mo_msn": seq % 65536,
                "mt_msn": 0,
                "location": {
                    "cep_radius": rng.randrange(2, 40),
                    "latitude": {"degrees": int(lat), "minutes": round((lat % 1) * 60, 3)},
                    "longitude": {"degrees": int(lon), "minutes": round((abs(lon) % 1) * 60, 3)},
                },
            },
            "values": {
                "status_ts": status_ts,
                "environmental_ts": float(status_ts - 60),
                "mission_ts": float(status_ts - 120),
                "system_status": rng.choice(("NOMINAL", "LOW_POWER", "SURFACED")),
                "latitude": lat,
                "longitude": lon,
                "heading": round(rng.uniform(0, 360), 1),
                "battery_level": round(rng.uniform(10, 100), 1),
                "bus_voltage": round(rng.uniform(11, 15), 2),
                "operating_temp": round(rng.uniform(-2, 35), 2),
                "charge_rate": round(rng.uniform(-1, 1), 3),
                "sw_rev": f"v{rng.randrange(1, 4)}.{rng.randrange(10)}.{rng.randrange(10)}",
                "geofence_config_index": rng.randrange(8),
                "misc": {"mission": f"m{rng.randrange(50)}", "note": rng.choice(WORDS),
                         "event": rng.choice(EVENT_TYPES)},
            },
            "mfr": "nwic",
        }
        if poison:
            del msg["headers"]
        lines.append(json.dumps(msg))
        ledger.append((seq, str(imei), status_ts, lat, lon, poison))
    return lines, ledger


def documents(rng: random.Random, n: int) -> dict[str, list]:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) with 5%
    exact duplicates, 5% near duplicates, 5% too-short documents and a
    sprinkle of e-mail addresses for the PII scrub."""
    cols = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if texts and u < 0.05:
            text = rng.choice(texts)
        elif texts and u < 0.10:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        elif u < 0.15:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 12)))
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(40, 160))]
            if rng.random() < 0.1:
                words.insert(rng.randrange(len(words)), f"user{i}@example.com")
            text = " ".join(words)
        texts.append(text)
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["lang"].append(rng.choice(("en", "en", "en", "de", "zh")))
        cols["source"].append(f"src{rng.randrange(5)}")
        cols["n_chars"].append(len(text))
    return cols
