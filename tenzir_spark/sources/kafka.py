"""Kafka connector: offset-spec translation.

Reference: plugins/kafka/src/plugin.cpp:43-47 parses the ``--offset``
argument (``beginning | end | stored | <N> | -N``) and the consumer
joins a balanced group honoring it (plugins/kafka/src/consumer.cpp).
Spark has a native kafka source — the engine's job is translating the
reference's offset language to ``startingOffsets``/per-partition JSON
(the options dict a ``readStream.format("kafka")`` takes). The TQL
``load_kafka`` path speaks the wire protocol itself (kafka_wire.py).
"""

from __future__ import annotations

import json


def parse_offset_spec(spec: str | int) -> dict:
    """Reference offset grammar -> Spark kafka option fragments.

    - ``beginning`` -> startingOffsets=earliest
    - ``end``       -> startingOffsets=latest
    - ``stored``    -> rely on the checkpoint/committed group offsets
      (Spark: startingOffsets only applies on first start; committed
      offsets live in the streaming checkpoint)
    - ``N`` (>=0)   -> absolute offset N on every partition
    - ``-N``        -> N messages before the end (rdkafka OFFSET_TAIL):
      Spark cannot express tail offsets statically; surfaced as
      {"tail": N} so the caller resolves partition end offsets first.
    """
    if isinstance(spec, int) or (isinstance(spec, str) and spec.lstrip("-").isdigit()):
        n = int(spec)
        if n >= 0:
            return {"kind": "absolute", "offset": n}
        return {"kind": "tail", "offset": -n}
    s = str(spec).strip().lower()
    if s == "beginning":
        return {"kind": "named", "startingOffsets": "earliest"}
    if s == "end":
        return {"kind": "named", "startingOffsets": "latest"}
    if s == "stored":
        # stored == the consumer group's committed offset; in Spark the
        # analog is the stream checkpoint, so a fresh start uses latest
        return {"kind": "stored", "startingOffsets": "latest"}
    raise ValueError(f"invalid kafka offset spec {spec!r} "
                     "(expected beginning|end|stored|<N>|-N)")


def kafka_options(
    topic: str,
    brokers: str = "localhost:9092",
    offset: str | int = "stored",
    partitions: list[int] | None = None,
) -> dict[str, str]:
    """Build the spark.readStream.format('kafka') option dict from the
    reference's connector arguments."""
    spec = parse_offset_spec(offset)
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
    }
    if spec["kind"] == "named" or spec["kind"] == "stored":
        opts["startingOffsets"] = spec["startingOffsets"]
    elif spec["kind"] == "absolute":
        parts = partitions if partitions is not None else [0]
        opts["startingOffsets"] = json.dumps(
            {topic: {str(p): spec["offset"] for p in parts}})
    else:  # tail: resolvable only against live end offsets
        opts["__tail__"] = str(spec["offset"])
    return opts
