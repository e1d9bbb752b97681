package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.DatanodeId

/** Datanode id packing (SURVEY §7.4 risk item 5). */
class ModelSpec extends AnyFunSuite {

  test("datanode id packs ip<<32|port and round-trips") {
    assert(DatanodeId.pack("10.2.3.4", 50010) ==
      ((((10L << 8 | 2) << 8 | 3) << 8 | 4) << 32) + 50010)
    for (ip <- Seq("0.0.0.0", "255.255.255.255", "192.168.1.77");
         port <- Seq(0, 1, 65535, 50010)) {
      val id = DatanodeId.pack(ip, port)
      assert(DatanodeId.ip(id) == ip)
      assert(DatanodeId.port(id) == port)
    }
  }
}
