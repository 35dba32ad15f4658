"""User-facing facade mirroring the reference's model API.

SpanMarkerModel.predict (span_marker/modeling.py:354-578) accepts a
sentence string, a pre-tokenized list of words, a list of sentences,
a list of pre-tokenized sentences, or a Dataset. This facade keeps
that contract (including the reference's "no whitespace in any
element => one pre-tokenized sentence" heuristic,
modeling.py:425-427) and runs everything through the Spark pipeline,
so the same code path serves one ad-hoc sentence and a 100 TB table.

save_pretrained/from_pretrained (modeling.py:207-319,580-615
analogue): config json + seeded-weight spec + gazetteer tsv in a
directory. Weights are regenerated from the seed (they're
deterministic), so a "checkpoint" is a few KB and trivially shippable
with --py-files / SparkFiles.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.operators.ner import ner_mentions


def _looks_pretokenized(inputs: list[str]) -> bool:
    """modeling.py:425-427: a list of strings with no whitespace in
    any element is ONE pre-tokenized sentence, not N sentences."""
    return all(" " not in w for w in inputs)


class SpanMarkerSparkModel:
    def __init__(
        self,
        cfg: SpanMarkerConfig,
        gazetteer: dict[str, int],
        spark: SparkSession | None = None,
    ):
        self.cfg = cfg
        self.gazetteer = dict(gazetteer)
        self._spark = spark

    # ---------------- predict ----------------

    def predict(self, inputs) -> list:
        """Entity dicts per sentence (modeling.py:551-564 shape):
        {span, label, score, char_start_index, char_end_index,
        word_start_index, word_end_index}. Single-sentence input ->
        one list; multi-sentence -> list of lists."""
        if isinstance(inputs, DataFrame):
            return self.predict_df(inputs)
        if inputs == [] or inputs is None:
            return []
        single = False
        if isinstance(inputs, str):
            sentences = [inputs.split(" ")]
            single = True
        elif isinstance(inputs, (list, tuple)) and inputs and isinstance(inputs[0], str):
            if _looks_pretokenized(list(inputs)):
                sentences = [list(inputs)]
                single = True
            else:
                sentences = [s.split(" ") for s in inputs]
        elif isinstance(inputs, (list, tuple)) and inputs and isinstance(
            inputs[0], (list, tuple)
        ):
            sentences = [list(s) for s in inputs]
        else:
            raise ValueError(f"unsupported predict() input: {type(inputs)}")
        for s in sentences:
            if not any(w.strip() for w in s):
                raise ValueError("empty sentence in predict() input")
        # this facade collects results to the driver by contract
        # (ad-hoc interactive input, mirroring the reference's
        # list-in/list-out predict); route bulk data through
        # predict_df instead
        if len(sentences) > 100_000:
            raise ValueError(
                f"predict() is the ad-hoc list facade (got {len(sentences)} "
                "sentences); use predict_df(DataFrame) for bulk scoring"
            )

        spark = self._spark or SparkSession.active()
        rows = [
            (f"in://{i}", 0, " ".join(words), words, 0)
            for i, words in enumerate(sentences)
        ]
        df = spark.createDataFrame(rows, schema=schemas.SENTENCES)
        mentions = ner_mentions(df, self.cfg, self.gazetteer).collect()
        out: list[list[dict]] = [[] for _ in sentences]
        for r in mentions:
            i = int(r["url"].split("//")[1])
            out[i].append(
                {
                    "span": r["span"],
                    "label": r["label"],
                    "score": r["score"],
                    "word_start_index": r["word_start_index"],
                    "word_end_index": r["word_end_index"],
                    "char_start_index": r["char_start_index"],
                    "char_end_index": r["char_end_index"],
                }
            )
        for lst in out:
            lst.sort(key=lambda m: (m["word_start_index"], m["word_end_index"]))
        return out[0] if single else out

    def predict_df(self, sentences: DataFrame) -> DataFrame:
        """DataFrame-in, DataFrame-out (the scale path): expects the
        SENTENCES schema, returns MENTIONS."""
        return ner_mentions(sentences, self.cfg, self.gazetteer)

    # ---------------- checkpoints ----------------

    def save_pretrained(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "config.json"), "w") as f:
            json.dump(
                {
                    "labels": self.cfg.labels,
                    "model_max_length": self.cfg.model_max_length,
                    "marker_max_length": self.cfg.marker_max_length,
                    "entity_max_length": self.cfg.entity_max_length,
                    "hidden_size": self.cfg.hidden_size,
                    "vocab_size": self.cfg.vocab_size,
                    "seed": self.cfg.seed,
                },
                f,
                indent=2,
            )
        with open(os.path.join(path, "gazetteer.tsv"), "w") as f:
            for alias, label_id in sorted(self.gazetteer.items()):
                f.write(f"{alias}\t{label_id}\n")

    @classmethod
    def from_pretrained(
        cls, path: str, spark: SparkSession | None = None
    ) -> "SpanMarkerSparkModel":
        with open(os.path.join(path, "config.json")) as f:
            c = json.load(f)
        cfg = SpanMarkerConfig(
            labels=c["labels"],
            model_max_length=c["model_max_length"],
            marker_max_length=c["marker_max_length"],
            entity_max_length=c["entity_max_length"],
            hidden_size=c["hidden_size"],
            vocab_size=c["vocab_size"],
            seed=c["seed"],
        )
        gaz: dict[str, int] = {}
        gz = os.path.join(path, "gazetteer.tsv")
        if os.path.exists(gz):
            with open(gz) as f:
                for line in f:
                    alias, label_id = line.rstrip("\n").split("\t")
                    gaz[alias] = int(label_id)
        return cls(cfg, gaz, spark)
