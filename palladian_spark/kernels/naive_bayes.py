"""General Naive Bayes over mixed nominal + numeric feature vectors —
faithful twin of the reference's ``classification/nb/
NaiveBayesClassifier.java:23-120``, ``NaiveBayesLearner.java:28-79``
and ``NaiveBayesModel.java:24-230`` (distinct from the TEXT Bayes
scorer in kernels/classifier.py, which is done separately).

Replicated semantics:

* priors: count(category) / total instances (``NaiveBayesModel
  .getPrior``, :66-69);
* nominal likelihood with the reference's laplace form
  ``(count + L) / (count(category) + L * numCategories)``
  (``getProbability``, :83-100);
* numeric likelihood: Gaussian density from the per-(feature,
  category) SAMPLE mean / SAMPLE standard deviation (``SlimStats``
  Welford accumulation, ``isSample() == true`` -> n-1 denominator;
  stddev 0 when a single observation), normalized by the sum of the
  per-category PDF maxima ``sum 1/(sd*sqrt(2pi))`` (``getDensity`` /
  ``calcDensityNormalization``, :135-201); densities <= 0 (missing or
  zero-variance cells) are SKIPPED, not multiplied in
  (``NaiveBayesClassifier.java:100-107``);
* scoring in log space by default (``logSpace``), falling back to
  plain products when disabled;
* unseen features in the vector are ignored; learned features missing
  from the vector are skipped (``classify``, :77-113).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

DEFAULT_LAPLACE = 0.00001


class NaiveBayesModel:
    def __init__(self):
        self.categories: Counter = Counter()
        # (feature, value) -> Counter(category)
        self.nominal_counts: dict[tuple[str, str], Counter] = defaultdict(Counter)
        # (feature, category) -> (mean, sample_stddev)
        self.means: dict[tuple[str, str], float] = {}
        self.stddevs: dict[tuple[str, str], float] = {}
        self._norms: dict[str, float] | None = None

    @property
    def total(self) -> int:
        return sum(self.categories.values())

    def learned_features(self) -> set[str]:
        feats = {f for f, _ in self.nominal_counts}
        feats.update(f for f, _ in self.means)
        return feats

    def prior(self, category: str) -> float:
        return self.categories[category] / self.total

    def probability(
        self, feature: str, value: str, category: str, laplace: float
    ) -> float:
        count = self.nominal_counts.get((feature, value), Counter()).get(category, 0)
        return (count + laplace) / (
            self.categories[category] + laplace * len(self.categories)
        )

    def _normalization(self, feature: str) -> float:
        if self._norms is None:
            norms: dict[str, float] = defaultdict(float)
            for (f, _), sd in self.stddevs.items():
                if sd > 0:
                    norms[f] += 1.0 / (sd * math.sqrt(2.0 * math.pi))
            self._norms = dict(norms)
        return self._norms.get(feature, 0.0)

    def density(self, feature: str, value: float, category: str) -> float:
        sd = self.stddevs.get((feature, category))
        mean = self.means.get((feature, category))
        if sd is None or sd == 0:
            return 0.0
        variance = sd * sd
        pdf = (
            1.0
            / math.sqrt(2.0 * math.pi * variance)
            * math.exp(-((value - mean) ** 2) / (2.0 * variance))
        )
        return pdf / self._normalization(feature)


def _is_numeric(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def train(instances) -> NaiveBayesModel:
    """NaiveBayesLearner.train (:31-72): counts for nominal cells,
    Welford sample stats for numeric cells."""
    model = NaiveBayesModel()
    # Welford accumulators: (feature, category) -> [count, mean, s]
    acc: dict[tuple[str, str], list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for feats, category in instances:
        model.categories[category] += 1
        for name, value in feats.items():
            if value is None:
                continue
            if _is_numeric(value):
                a = acc[(name, category)]
                a[0] += 1
                delta = float(value) - a[1]
                a[1] += delta / a[0]
                a[2] += delta * (float(value) - a[1])
            else:
                model.nominal_counts[(name, str(value))][category] += 1
    for key, (n, mean, s) in acc.items():
        model.means[key] = mean
        model.stddevs[key] = 0.0 if n == 1 else math.sqrt(s / (n - 1))
    return model


def classify(
    feats: dict,
    model: NaiveBayesModel,
    laplace: float = DEFAULT_LAPLACE,
    log_space: bool = True,
) -> dict[str, float]:
    """NaiveBayesClassifier.classify (:77-113): per-category score."""
    learned = model.learned_features()
    scores: dict[str, float] = {}
    for category in model.categories:
        probability = model.prior(category)
        if log_space:
            probability = math.log(probability)
        # sorted: float summation order must not follow set iteration
        # order, which varies with PYTHONHASHSEED
        for name in sorted(learned):
            value = feats.get(name)
            if value is None:
                continue
            if _is_numeric(value):
                density = model.density(name, float(value), category)
                if density > 0:
                    if log_space:
                        probability += math.log(density)
                    else:
                        probability *= density
            else:
                p = model.probability(name, str(value), category, laplace)
                if log_space:
                    # Java Math.log(0) is -Infinity (laplace == 0 with an
                    # unseen cell), Python raises — mirror Java
                    probability += math.log(p) if p > 0 else float("-inf")
                else:
                    probability *= p
        scores[category] = probability
    return scores


def most_likely(scores: dict[str, float]) -> str:
    """Argmax with a deterministic name tie-break."""
    return max(scores.items(), key=lambda kv: (kv[1], kv[0]))[0]
