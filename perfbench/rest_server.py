"""Server launcher for the rest_recognize workload: serves the entry model
with nametag_spark.rest.server in its own process.

    python3 perfbench/rest_server.py --model MODEL_DIR [--spans PATH]

Prints "READY <port>" once the server accepts requests and runs until
SIGTERM. With --spans the launcher wraps the tokenizer, the batch
recognizer, NerModel.make_sentence_batch and the XML fragment renderer with
spans; recording starts on SIGUSR1 and the spans are written to PATH on exit.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def instrument(tracer: tracing.Tracer, on: threading.Event) -> None:
    """Wrap the layers the server calls. The server imports these names at
    call time, so replacing the module attributes reaches every request."""
    from nametag_spark.model.model import NerModel
    from nametag_spark.ner import pipeline
    from nametag_spark.rest import server
    from nametag_spark.sinks import render
    from nametag_spark.tokenizer import rules

    tokenize = rules.tokenize_sentences

    def tokenize_sentences(text, lang="en"):
        if not on.is_set():
            return tokenize(text, lang)
        with tracer.span("tokenizer") as rec:
            out = tokenize(text, lang)
            rec["tokens"] = sum(len(s) for s in out)
        return out

    rules.tokenize_sentences = tokenize_sentences

    make_batch = NerModel.make_sentence_batch

    def make_sentence_batch(self, forms_lists):
        if not on.is_set():
            return make_batch(self, forms_lists)
        with tracer.span("ner"):
            return make_batch(self, forms_lists)

    NerModel.make_sentence_batch = make_sentence_batch

    recognize = pipeline._BatchRecognizer.recognize_batch

    def recognize_batch(self, sentences):
        if not on.is_set():
            return recognize(self, sentences)
        with tracer.span("ner") as rec:
            out = recognize(self, sentences)
            rec["sentences"] = len(sentences)
            rec["mentions"] = sum(len(e) for e in out)
        return out

    pipeline._BatchRecognizer.recognize_batch = recognize_batch

    render_xml = render.render_xml_fragments

    def render_xml_fragments(text, pairs):
        # the decoded sentences are produced lazily while rendering, so the
        # recognizer's spans nest inside these and drop out of render's
        # self time
        it = render_xml(text, pairs)
        while True:
            if not on.is_set():
                frag = next(it, None)
            else:
                with tracer.span("render"):
                    frag = next(it, None)
            if frag is None:
                return
            yield frag

    render.render_xml_fragments = render_xml_fragments

    handle = server._Handler._handle

    def _handle(self):
        if not on.is_set():
            return handle(self)
        with tracer.span("rest", req=self.headers.get("X-Request-Id")):
            return handle(self)

    server._Handler.do_GET = server._Handler.do_POST = _handle


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--model", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args(argv)

    from nametag_spark.rest.server import NametagService, serve

    stop = threading.Event()
    on = threading.Event()
    tracer = tracing.Tracer(f"rest-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    if args.spans:
        instrument(tracer, on)
        signal.signal(signal.SIGUSR1, lambda *_: on.set())
    service = NametagService({"entry": args.model})
    srv, thread = serve(service)
    print(f"READY {srv.server_address[1]}", flush=True)
    while not stop.wait(0.5):
        pass
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=10)
    if args.spans:
        tracer.write(args.spans)
    return 0


if __name__ == "__main__":
    sys.exit(main())
