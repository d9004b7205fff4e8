import numpy as np

from perfbench import data


def test_heavy_corpus_is_a_function_of_the_seed():
    ids_a, texts_a = data.heavy_corpus(2000, seed=5)
    ids_b, texts_b = data.heavy_corpus(2000, seed=5)
    _, texts_c = data.heavy_corpus(2000, seed=6)
    assert np.array_equal(ids_a, ids_b) and texts_a == texts_b
    assert texts_a != texts_c
    assert list(ids_a) == list(range(2000))


def test_heavy_head_terms_are_frequent():
    _, texts = data.heavy_corpus(4800, seed=1)
    heads, _ = data.heavy_vocab()
    docs = [set(t.split(" ")) for t in texts]
    df = np.array([sum(h in d for d in docs) for h in heads]) / len(docs)
    assert df.min() >= 0.35 and df.max() <= 0.9


def test_heavy_hub_repeats_its_topic():
    n = 4800
    _, texts = data.heavy_corpus(n, seed=2)
    topics = data.heavy_topics(2)
    last_host = data.HEAVY_HOSTS - 1
    start = (last_host * n + data.HEAVY_HOSTS - 1) // data.HEAVY_HOSTS
    words = texts[start].split(" ")
    for j in topics[last_host % data.HEAVY_TOPICS]:
        assert words.count(f"head{j:02d}") == data.HEAVY_HUB_TF


def test_pools_are_functions_of_the_seed_with_fixed_shapes():
    vocab = data.light_vocab()
    assert data.light_pool(3, vocab) == data.light_pool(3, vocab)
    assert data.light_pool(3, vocab) != data.light_pool(4, vocab)
    assert [q.shape for q in data.light_pool(3, vocab)] == [q.shape for q in data.light_pool(4, vocab)]
    assert data.heavy_pool(3) == data.heavy_pool(3)
    assert [(q.shape, q.k) for q in data.heavy_pool(3)] == [(q.shape, q.k) for q in data.heavy_pool(9)]


def test_light_queries_use_their_shape_band():
    vocab = data.light_vocab()
    rank = {t: i for i, t in enumerate(vocab)}
    lo, hi = (10 * n + 86 for n in data.LIGHT_PREFIXES)
    for seed in range(20):
        for q in data.light_pool(seed, vocab):
            terms = q.terms(vocab) + list(q.must_not)
            band = (lo, hi) if q.prefix else data.LIGHT_BANDS[q.shape]
            assert len(terms) == (10 if q.prefix else len(set(terms))), q
            assert all(band[0] <= rank[t] < band[1] for t in terms), q


def test_heavy_queries_stay_within_one_topic():
    topics = data.heavy_topics(7)
    for q in data.heavy_pool(7):
        idx = {int(t[4:]) for t in q.terms([])}
        assert any(idx <= set(topic) for topic in topics.tolist()), q


def test_heavy_query_volume_does_not_depend_on_the_seed():
    # a term's presence probability is fixed by its position in its topic
    def presence(seed):
        pos = {int(j): r for topic in data.heavy_topics(seed) for r, j in enumerate(topic)}
        return [sorted(pos[int(t[4:])] for t in q.terms([])) for q in data.heavy_pool(seed)]

    assert presence(1) == presence(2) == presence(3)
