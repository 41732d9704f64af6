"""Language identification — fastText-style hashed character-trigram model.

Pure numpy, deterministic, built at import time from an embedded seed corpus
(no external model files: the container has no fastText binary, so this plays
its role — same architecture: hashed char n-grams → linear scores → softmax).

The model is *shared* by the Spark feature kernel
(operators/fused_stage.py ``features_batch``, loaded once per executor
python worker) and the pure-Python oracle labeler, mirroring how the reference dispatches the same
``get_*()`` blueprint functions from both its pipeline and its golden tests
(``wallaby2caom2/main_app.py:126,159-198``).
"""

from __future__ import annotations

import numpy as np

N_BUCKETS = 1 << 15
_P1, _P2 = np.uint64(1099511628211), np.uint64(40503)

LANGS: tuple[str, ...] = ("en", "fr", "de", "es", "it")

# Seed corpus: frequent function/content words per language (public
# frequency-list knowledge). The data generator (datagen.py) draws sentences
# from its own phrase banks; coverage comes from character-trigram
# generalization, and pipeline↔oracle agreement from sharing this module.
_SEED: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and they were here "
        "because of what could have been done with this should would about "
        "people time year good first world after thought through between "
        "there which their other into more these some them then than when "
        "who will just know take come its also back use two how our work "
        "morning evening children child walking running talking reading "
        "writing learning teaching school house water light night day street "
        "city town village river mountain father mother family friend young "
        "old small large heavy light early late slowly quickly towards away "
        "inside outside under above carrying bringing holding making going "
        "coming looking seeing thinking everything something nothing anyone "
        "everyone never always often sometimes during before while books "
        "lessons teachers students classroom warm cold every each another "
        "the of and to in is was he for it with as his on be at by had not "
        "are but from or she an which you one all her there their we him "
        "been has would who will more no if out so said what up its them"
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux et ils "
        "etaient ici parce que de ce qui aurait pu etre fait avec cela "
        "devrait serait environ les gens temps annee bon premier monde "
        "apres pense entre il y a qui sera juste savoir prendre venir son "
        "aussi retour utiliser deux comment notre travail toujours chose "
        "cette nous vous leur mais pour dans une des est sont avoir faire "
        "matin soir enfants enfant marcher courir parler lire ecrire "
        "apprendre enseigner ecole maison eau lumiere nuit jour rue ville "
        "village riviere montagne pere mere famille ami jeune vieux petit "
        "grand lourd leger tot tard lentement rapidement vers loin dedans "
        "dehors sous dessus portant apportant tenant faisant allant venant "
        "regardant voyant pensant tout quelque rien personne chacun jamais "
        "toujours souvent parfois pendant avant tandis livres lecons "
        "maitres eleves classe chaud froid chaque autre pres du au aux "
        "je tu elle on ne pas plus moins tres bien ou donc car si quand"
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund und sie "
        "waren hier weil von dem was haette getan werden koennen mit diesem "
        "sollte wuerde ueber die leute zeit jahr gut erste welt nach "
        "gedacht durch zwischen dort welche ihre andere in mehr diese "
        "einige ihnen dann als wenn wer wird nur wissen nehmen kommen auch "
        "zurueck verwenden zwei wie unsere arbeit immer ding nicht sind ist "
        "morgen abend kinder kind gehen laufen sprechen lesen schreiben "
        "lernen lehren schule haus wasser licht nacht tag strasse stadt "
        "dorf fluss berg vater mutter familie freund jung alt klein gross "
        "schwer leicht frueh spaet langsam schnell zu weg drinnen draussen "
        "unter oben tragen bringen halten machen gehend kommend schauen "
        "sehen denken alles etwas nichts jemand jeder niemals oft manchmal "
        "waehrend bevor buecher unterricht lehrer schueler klassenzimmer "
        "warm kalt jeden jede anderes am im ein eine einen des dass das "
        "ich du er es wir ihr kein sehr gut oder aber doch noch schon"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y ellos "
        "estaban aqui porque de lo que podria haber sido hecho con esto "
        "deberia seria acerca de la gente tiempo ano bueno primero mundo "
        "despues pensamiento entre alli cual su otro en mas estos algunos "
        "ellos entonces que cuando quien sera solo saber tomar venir "
        "tambien volver usar dos como nuestro trabajo siempre cosa para una "
        "manana tarde ninos nino caminar correr hablar leer escribir "
        "aprender ensenar escuela casa agua luz noche dia calle ciudad "
        "pueblo rio montana padre madre familia amigo joven viejo pequeno "
        "grande pesado ligero temprano despacio rapidamente hacia lejos "
        "dentro fuera debajo encima llevando trayendo sosteniendo haciendo "
        "yendo viniendo mirando viendo pensando todo algo nada alguien "
        "cada nunca siempre muchas veces durante antes mientras libros "
        "clases maestros alumnos aula calido frio cerca del los las unos "
        "yo tu ella nosotros no muy bien o pero aun ya desde hasta sin"
    ),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro e loro erano "
        "qui perche di cio che avrebbe potuto essere fatto con questo "
        "dovrebbe sarebbe circa le persone tempo anno buono primo mondo "
        "dopo pensiero tra li quale loro altro in piu questi alcuni allora "
        "che quando chi sara solo sapere prendere venire anche indietro "
        "usare due come nostro lavoro sempre cosa per una delle sono essere "
        "mattina sera bambini bambino camminare correre parlare leggere "
        "scrivere imparare insegnare scuola casa acqua luce notte giorno "
        "strada citta paese fiume montagna padre madre famiglia amico "
        "giovane vecchio piccolo grande pesante leggero presto tardi "
        "lentamente velocemente verso lontano dentro fuori sotto sopra "
        "portando tenendo facendo andando venendo guardando vedendo "
        "pensando tutto qualcosa niente qualcuno ogni mai spesso talvolta "
        "durante prima mentre libri lezioni insegnanti studenti aula caldo "
        "freddo vicino del dei gli uno io tu lei noi non molto bene o ma"
    ),
}


def _trigram_buckets(text: str) -> np.ndarray:
    """Vectorized hashed char-trigram bucket ids for one string."""
    s = f"  {text.lower()} "
    cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cps) < 3:
        return np.empty(0, dtype=np.int64)
    h = cps[:-2] * _P1 + cps[1:-1] * _P2 + cps[2:]
    return (h % np.uint64(N_BUCKETS)).astype(np.int64)


_JM_LAMBDA = 0.7  # Jelinek-Mercer interpolation with the pooled background
# calibrated: clean single-language text conf ≥0.9 (99.8%), two-language
# mixes conf <0.9 (94%) — see tests/test_langid.py
_SOFTMAX_TEMP = 6.0


def _build_model() -> np.ndarray:
    """(n_langs, N_BUCKETS) float32 log-prob matrix, JM-smoothed against the
    pooled background so hash-collision noise on unseen trigrams cancels."""
    counts = np.zeros((len(LANGS), N_BUCKETS), dtype=np.float64)
    for i, lang in enumerate(LANGS):
        np.add.at(counts[i], _trigram_buckets(_SEED[lang]), 1.0)
    p_lang = counts / counts.sum(axis=1, keepdims=True)
    p_bg = counts.sum(axis=0)
    p_bg /= p_bg.sum()
    p = _JM_LAMBDA * p_lang + (1.0 - _JM_LAMBDA) * (p_bg + 1.0 / N_BUCKETS)
    return np.log(p).astype(np.float32)


_LOGPROB: np.ndarray = _build_model()


def buckets_batch(texts: list[str | None]) -> list[np.ndarray | None]:
    """Per-text trigram buckets, computed once and shared by langid AND the
    perplexity LM (functions/textscore.py) — hashing is ~30% of the text
    scoring, so the feature kernel pays it once."""
    return [_trigram_buckets(t) if t else None for t in texts]


def predict_batch(texts: list[str | None]) -> tuple[np.ndarray, np.ndarray]:
    """Batch langid → (lang codes as object array, confidence float32 array).

    Per-string trigram hashing is numpy-vectorized over the string's
    characters; the outer loop is per *row of the Arrow batch* (exactly how
    fastText's own C loop works), never per-character Python.
    """
    return predict_from_buckets(buckets_batch(texts))


def predict_from_buckets(
    bucket_list: list[np.ndarray | None],
) -> tuple[np.ndarray, np.ndarray]:
    # Single implementation lives in textscore.score_from_buckets (fused
    # row-major gather shared with the perplexity LM — see that module's
    # docstring for the cache-line analysis); this wrapper keeps the split
    # API for the oracle labeler.
    from .textscore import score_from_buckets

    langs, confs, _ = score_from_buckets(bucket_list)
    return langs, confs


def predict_one(text: str | None) -> tuple[str, float]:
    langs, confs = predict_batch([text])
    return str(langs[0]), float(confs[0])
